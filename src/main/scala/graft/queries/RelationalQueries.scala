package graft.queries

import graft.operators.{Curation, Incremental, Profiling, QuantileSketch, RuntimeFilters, SkewJoin, TemporalJoin}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational engine surface: joins / aggregations / windows / sorts /
  * set ops / scalar functions — the categories SURVEY.md §2.3-§2.8 marks
  * "absent in the reference, required engine surface" (north star).
  *
  * Scale notes (100 TB posture):
  *  - only FIXED-cardinality dimensions (nation, region) carry explicit
  *    `broadcast()` hints; SF-scaling tables (customer, supplier, part in
  *    join_broadcast_part's demo) are left to Catalyst/AQE, which
  *    broadcasts them while they fit and shuffle-joins beyond;
  *  - aggregates are plain `groupBy().agg` → Catalyst plans partial
  *    (map-side) + final aggregation automatically;
  *  - top-k = orderBy+limit → Spark's TakeOrderedAndProject (no global
  *    sort materialization);
  *  - windows partition by high-cardinality keys (custkey/user_id), so
  *    state per partition stays small.
  */
object RelationalQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Exact TPC-H revenue: per-row cents·(100−d_hundredths) Long units
    * summed in Decimal(38,0) — order-independent — then dollars via
    * one correctly-rounded cast+division. Replaces
    * round(sum(price·(1−disc)),2), whose exact value sits on a
    * 0.01-grid in round units and flips at .5 boundaries under
    * merge-order noise (the ql_agg_star class; see q1's note). */
  private def exactRevenue: Column =
    sum((round(col("l_extendedprice") * 100, 0).cast("long")
      * (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
      .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .cast("double") / lit(10000.0)

  /** The oracle twin of [[exactRevenue]] (DuckDB sums BIGINT exactly
    * in HUGEINT; the ::DOUBLE cast is correctly rounded). */
  private val ExactRevenueSql =
    """sum(CAST(round(l_extendedprice*100,0) AS BIGINT)
      * (100 - CAST(round(l_discount*100,0) AS BIGINT)))::DOUBLE
      / 10000.0"""

  def defs: Map[String, QueryDef] = Q.m(

    // TPC-H Q1-style pricing summary: wide aggregate with partial/final
    // split; sum_qty exact (integral doubles), money sums rounded.
    //
    // FORMULATION HISTORY (driver-gate bisection, r13): this is the
    // r11 formulation, driver-green in CORRECTNESS_r10 AND r11. The
    // r12 "exact integer cents" rewrite (Decimal(38,0) sums + half-up
    // div identities, commit acb2941) went driver-RED on hash while
    // passing the identical local gate — evidence of a
    // driver-DuckDB-version divergence in one of the rewrite's
    // constructs, not of rounding-boundary noise in THIS form. The
    // suspect constructs are isolated in ProbeQueries.scala
    // (probe_*); do not rewrite this query again without a red probe
    // row naming the construct.
    "q1_pricing_summary" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
        sum(l_quantity)::BIGINT AS sum_qty,
        round(sum(l_extendedprice),2) AS sum_base_price,
        round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        sum(l_quantity)/count(*) AS avg_qty,
        round(avg(l_extendedprice),4) AS avg_price,
        round(avg(l_discount),6) AS avg_disc,
        count(*)::BIGINT AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""".replaceAll("\\s+", " "))),

    // Q3-style: 3-way join → grouped revenue → deterministic top-10.
    "q3_topk_revenue" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1997-06-30").cast("timestamp"))
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1997-06-30").cast("timestamp"))
        // customer scales with SF — no broadcast hint; Catalyst/AQE
        // picks broadcast at small scale and shuffle join at 100 TB
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(exactRevenue.as("revenue"))
          .select(col("o_orderkey"), col("o_orderdate").cast("date")
            .as("o_orderdate"), col("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT o.o_orderkey, o.o_orderdate::DATE AS o_orderdate,
        $ExactRevenueSql AS revenue
        FROM customer c JOIN orders o ON c.c_custkey=o.o_custkey
        JOIN lineitem l ON l.l_orderkey=o.o_orderkey
        WHERE c.c_mktsegment='BUILDING'
        AND o.o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
        GROUP BY 1,2 ORDER BY revenue DESC, o.o_orderkey LIMIT 10"""
        .replaceAll("\\s+", " "))),

    // Q5-style: 5-way join. Only the FIXED-cardinality dimensions
    // (nation 25, region 5) carry broadcast hints; customer/supplier
    // scale with SF — at 100 TB broadcasting them would collect
    // billions of rows to the driver, so their join strategy is left
    // to Catalyst/AQE.
    "q5_nation_revenue" -> QueryDef(
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val su = t(s, dir, "supplier")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(exactRevenue.as("revenue"), count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT n_name,
        $ExactRevenueSql AS revenue,
        count(*)::BIGINT AS n_items
        FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        JOIN customer ON o_custkey=c_custkey
        JOIN supplier ON l_suppkey=s_suppkey
        JOIN nation ON s_nationkey=n_nationkey
        JOIN region ON n_regionkey=r_regionkey
        WHERE r_name='ASIA' GROUP BY n_name""".replaceAll("\\s+", " "))),

    // Q10-style: returned-item revenue per customer, top 20 — the
    // join-heavy/top-k composite (lineitem⋈orders⋈customer⋈nation with
    // a selective returnflag filter pushed to the fact scan, broadcast
    // dim, TakeOrderedAndProject finish). Revenue rounded, ties broken
    // by custkey.
    "q10_returned_revenue" -> QueryDef(
      (s, dir) => {
        val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(exactRevenue.as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name,
          $ExactRevenueSql AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c_custkey LIMIT 20"""
        .replaceAll("\\s+", " "))),

    // join-key skew diagnosis — the pre-flight a 100 TB join runs
    // BEFORE choosing salting/AQE strategy: per-key frequency profile
    // reduced to exact integers (key count, row count, hottest key's
    // share in basis points). One map-side-combined groupBy; the
    // profile aggregate runs on the key-cardinality frame.
    // (Companion to stats_key_skew, which returns the top-10 hottest
    // keys; this one is the single-row whole-table profile.)
    "stats_key_skew_profile" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          max(col("n")).as("max_n"))
        .select(col("n_keys"), col("n_rows"), col("max_n"),
          expr("(max_n * 10000) div n_rows").as("hot_bp"),
          expr("(n_rows + n_keys - 1) div n_keys").as("avg_ceil")),
      Some("""WITH k AS (SELECT o_custkey, count(*)::BIGINT AS n
          FROM orders GROUP BY 1)
        SELECT count(*)::BIGINT AS n_keys, sum(n)::BIGINT AS n_rows,
          max(n)::BIGINT AS max_n,
          ((max(n) * 10000) // sum(n))::BIGINT AS hot_bp,
          ((sum(n) + count(*) - 1) // count(*))::BIGINT AS avg_ceil
        FROM k""".replaceAll("\\s+", " "))),

    // Q6-style: pushed-down filter + single-row aggregate. Revenue
    // Σ price·disc on exact cents·hundredths units (see q1's note).
    "q6_filtered_revenue" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.04, 0.06)
          && col("l_quantity") < 24)
        .agg((sum((round(col("l_extendedprice") * 100, 0).cast("long")
          * round(col("l_discount") * 100, 0).cast("long"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("double") / lit(10000.0)).as("revenue")),
      Some("""SELECT sum(CAST(round(l_extendedprice*100,0) AS BIGINT)
          * CAST(round(l_discount*100,0) AS BIGINT))::DOUBLE / 10000.0
          AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24"""
        .replaceAll("\\s+", " "))),

    // left-semi join (EXISTS).
    "join_semi" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS(SELECT 1 FROM orders
        WHERE o_custkey=c_custkey AND o_orderstatus='P')"""
        .replaceAll("\\s+", " "))),

    // semi join with an explicit bloom runtime prefilter on the probe
    // side (RuntimeFilters.bloomSemiJoin): lineitem rows that can't
    // match any selective part key are dropped AT THE SCAN, before the
    // shuffle — the 100 TB shape Catalyst's InjectRuntimeFilter produces
    // when its thresholds fire. Exact-join finish ⇒ result ≡ plain semi
    // join, which is exactly what the oracle checks.
    "join_bloom_prefilter" -> QueryDef(
      (s, dir) => RuntimeFilters.bloomSemiJoin(
          probe = t(s, dir, "lineitem"),
          build = t(s, dir, "part")
            .filter(col("p_size") < 10 && col("p_brand") === "Brand#13"),
          probeKey = "l_partkey", buildKey = "p_partkey",
          expectedItems = 100000L)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
        WHERE EXISTS(SELECT 1 FROM part
        WHERE p_partkey=l_partkey AND p_size < 10 AND p_brand='Brand#13')"""
        .replaceAll("\\s+", " "))),

    // left-anti join (NOT EXISTS).
    "join_anti" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS(SELECT 1 FROM orders
        WHERE o_custkey=c_custkey AND o_orderstatus='P')"""
        .replaceAll("\\s+", " "))),

    // explicit-broadcast demo (the engine's broadcast() surface). NB:
    // part scales with SF — the hint is right while part fits the
    // broadcast threshold; a 100 TB deployment drops the hint and lets
    // AQE decide (see file header).
    "join_broadcast_part" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price")),
      Some("""SELECT p_brand, sum(l_quantity)::BIGINT AS sum_qty,
        count(*)::BIGINT AS n, round(sum(l_extendedprice),2) AS sum_price
        FROM lineitem JOIN part ON l_partkey=p_partkey GROUP BY p_brand"""
        .replaceAll("\\s+", " "))),

    // salted skew join: same result as the plain join (oracle = plain
    // SQL join), but the left side's key space is exploded over 8 salts
    // so one hot supplier key spreads across 8 reducers instead of
    // pinning one — the manual escape hatch when AQE skew-splitting
    // can't apply (operators.SkewJoin).
    "join_skew_salted" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_quantity"))
        val sup = t(s, dir, "supplier")
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
        SkewJoin.saltedInnerJoin(li, sup, "l_suppkey", factor = 8)
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity")).cast("long").as("sum_qty"))
      },
      Some("""SELECT s_nationkey, count(*)::BIGINT AS n,
        sum(l_quantity)::BIGINT AS sum_qty
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1""".replaceAll("\\s+", " "))),

    // as-of join: enrich every event with the most recent prior (or
    // same-instant) "error" of the same user — union+window, ONE key
    // shuffle, no pair fan-out (TemporalJoin.asofJoin). Oracle is
    // DuckDB's native ASOF LEFT JOIN, so the semantics are pinned to an
    // independent implementation.
    "join_asof" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("t_us"), col("event_type"),
            col("value"))
        // contract: right side unique per (key, time)
        val alerts = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("t_us"))
          .agg(max(col("value")).as("alert_value"))
        TemporalJoin.asofJoin(
          ev.select("event_id", "user_id", "t_us"), alerts,
          keys = Seq("user_id"), leftTime = "t_us", rightTime = "t_us",
          payloadCols = Seq("alert_value"),
          matchedTimeCol = "alert_t_us")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
          event_type, value FROM events),
        al AS (SELECT user_id, t_us, max(value) AS alert_value FROM ev
          WHERE event_type='error' GROUP BY 1, 2)
        SELECT ev.event_id, ev.user_id, ev.t_us,
          al.t_us AS alert_t_us, al.alert_value
        FROM ev ASOF LEFT JOIN al
          ON ev.user_id = al.user_id AND ev.t_us >= al.t_us"""
        .replaceAll("\\s+", " "))),

    // as-of with a STALENESS tolerance: same enrichment as join_asof
    // but matches older than 1 hour are rejected back to NULL — the
    // "most recent state, unless it has gone stale" variant a plain
    // as-of silently gets wrong after a right-side outage. Oracle =
    // DuckDB ASOF + the same row-local gate.
    "join_asof_tolerance" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("t_us"), col("event_type"),
            col("value"))
        val alerts = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("t_us"))
          .agg(max(col("value")).as("alert_value"))
        TemporalJoin.asofJoinWithin(
          ev.select("event_id", "user_id", "t_us"), alerts,
          keys = Seq("user_id"), leftTime = "t_us", rightTime = "t_us",
          payloadCols = Seq("alert_value"),
          toleranceUs = 3600L * 1000000L,
          matchedTimeCol = "alert_t_us")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts)
          AS t_us, event_type, value FROM events),
        al AS (SELECT user_id, t_us, max(value) AS alert_value FROM ev
          WHERE event_type='error' GROUP BY 1, 2),
        j AS (SELECT ev.event_id, ev.user_id, ev.t_us,
            al.t_us AS alert_t_us, al.alert_value
          FROM ev ASOF LEFT JOIN al
            ON ev.user_id = al.user_id AND ev.t_us >= al.t_us)
        SELECT event_id, user_id, t_us,
          CASE WHEN alert_t_us IS NOT NULL
            AND t_us - alert_t_us <= 3600000000 THEN alert_t_us END
            AS alert_t_us,
          CASE WHEN alert_t_us IS NOT NULL
            AND t_us - alert_t_us <= 3600000000 THEN alert_value END
            AS alert_value
        FROM j""".replaceAll("\\s+", " "))),

    // FORWARD as-of: earliest error alert AT or AFTER each event —
    // the "next event" enrichment. Same union+window shape as
    // join_asof with the traversal reversed; DuckDB ASOF with `<=`
    // is the oracle's native forward form.
    "join_asof_forward" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("t_us"), col("event_type"),
            col("value"))
        val alerts = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("t_us"))
          .agg(max(col("value")).as("alert_value"))
        TemporalJoin.asofJoinForward(
          ev.select("event_id", "user_id", "t_us"), alerts,
          keys = Seq("user_id"), leftTime = "t_us", rightTime = "t_us",
          payloadCols = Seq("alert_value"),
          matchedTimeCol = "alert_t_us")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
          event_type, value FROM events),
        al AS (SELECT user_id, t_us, max(value) AS alert_value FROM ev
          WHERE event_type='error' GROUP BY 1, 2)
        SELECT ev.event_id, ev.user_id, ev.t_us,
          al.t_us AS alert_t_us, al.alert_value
        FROM ev ASOF LEFT JOIN al
          ON ev.user_id = al.user_id AND ev.t_us <= al.t_us"""
        .replaceAll("\\s+", " "))),

    // NEAREST as-of: whichever of the backward/forward alert is closer
    // in time (ties prefer the past — never peek forward unless
    // strictly closer). Oracle = both DuckDB ASOF directions + the
    // same integer delta CASE, stitched on the unique event_id.
    "join_asof_nearest" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("t_us"), col("event_type"),
            col("value"))
        val alerts = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("t_us"))
          .agg(max(col("value")).as("alert_value"))
        TemporalJoin.asofJoinNearest(
          ev.select("event_id", "user_id", "t_us"), alerts,
          keys = Seq("user_id"), leftTime = "t_us", rightTime = "t_us",
          payloadCols = Seq("alert_value"),
          matchedTimeCol = "alert_t_us")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
          event_type, value FROM events),
        al AS (SELECT user_id, t_us, max(value) AS alert_value FROM ev
          WHERE event_type='error' GROUP BY 1, 2),
        b AS (SELECT ev.event_id, ev.user_id, ev.t_us,
          al.t_us AS bt, al.alert_value AS bv
          FROM ev ASOF LEFT JOIN al
            ON ev.user_id = al.user_id AND ev.t_us >= al.t_us),
        f AS (SELECT ev.event_id, al.t_us AS ft, al.alert_value AS fv
          FROM ev ASOF LEFT JOIN al
            ON ev.user_id = al.user_id AND ev.t_us <= al.t_us)
        SELECT b.event_id, b.user_id, b.t_us,
          CASE WHEN bt IS NULL THEN ft WHEN ft IS NULL THEN bt
            WHEN b.t_us - bt <= ft - b.t_us THEN bt ELSE ft END
            AS alert_t_us,
          CASE WHEN bt IS NULL THEN fv WHEN ft IS NULL THEN bv
            WHEN b.t_us - bt <= ft - b.t_us THEN bv ELSE fv END
            AS alert_value
        FROM b JOIN f USING (event_id)""".replaceAll("\\s+", " "))),

    // the same as-of join on the CUSTOM sort-merge operator
    // (graft.plan.AsOfJoin: LogicalPlan + SparkStrategy + BinaryExecNode
    // registered via experimental.extraStrategies) — each side shuffles
    // and sorts at its own width and the merge streams both once with
    // O(1) state per key group, where the union+window form sorts
    // |L|+|R| null-padded union rows through one window. Same DuckDB
    // ASOF oracle as join_asof: both implementations must hash-match it.
    "join_asof_exec" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("t_us"), col("event_type"),
            col("value"))
        val alerts = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("t_us").as("a_t"))
          .agg(max(col("value")).as("alert_value"))
        TemporalJoin.asofJoinMerged(
          ev.select("event_id", "user_id", "t_us"), alerts,
          keys = Seq("user_id"), leftTime = "t_us", rightTime = "a_t",
          payloadCols = Seq("alert_value"),
          matchedTimeCol = "alert_t_us")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
          event_type, value FROM events),
        al AS (SELECT user_id, t_us, max(value) AS alert_value FROM ev
          WHERE event_type='error' GROUP BY 1, 2)
        SELECT ev.event_id, ev.user_id, ev.t_us,
          al.t_us AS alert_t_us, al.alert_value
        FROM ev ASOF LEFT JOIN al
          ON ev.user_id = al.user_id AND ev.t_us >= al.t_us"""
        .replaceAll("\\s+", " "))),

    // range (interval) join: all events inside the 30 minutes after
    // each same-user error, aggregated per alert. Bucketed equi-join on
    // (user, time-bucket) + exact containment filter — the plan is a
    // hash join, never nested-loop/cartesian (asserted in PlanSpec).
    "join_range" -> QueryDef(
      (s, dir) => {
        val winUs = 30L * 60 * 1000000
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("t_us"), col("event_type"))
        val ivs = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("alert_id"), col("user_id"),
            col("t_us").as("s_us"), (col("t_us") + winUs).as("e_us"))
        TemporalJoin.rangeJoin(
            ev.select("event_id", "user_id", "t_us"), "t_us",
            ivs, "s_us", "e_us", bucketWidth = winUs,
            keys = Seq("user_id"))
          .groupBy(col("alert_id"))
          .agg(count(lit(1)).as("n_events"), max(col("t_us")).as("last_t_us"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
          event_type FROM events),
        iv AS (SELECT event_id AS alert_id, user_id, t_us AS s_us,
          t_us + 1800000000 AS e_us FROM ev WHERE event_type='error')
        SELECT iv.alert_id, count(*)::BIGINT AS n_events,
          max(ev.t_us) AS last_t_us
        FROM iv JOIN ev ON ev.user_id = iv.user_id
          AND ev.t_us >= iv.s_us AND ev.t_us < iv.e_us
        GROUP BY iv.alert_id""".replaceAll("\\s+", " "))),

    // ranking window: top-3 orders per customer, deterministic ties.
    "win_rank_orders" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("rn"), col("o_orderkey"),
            col("o_totalprice"))
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
        row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        WHERE rn <= 3""".replaceAll("\\s+", " "))),

    // full-outer join with non-matching rows on BOTH sides (building
    // customers without 'F' orders; 'F' orders of other segments) —
    // the join-type matrix's last cell, null-extended on each side.
    "join_full_outer" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_mktsegment"))
        val o = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            col("c_mktsegment"), col("n_orders"))
      },
      Some("""SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
          c.c_mktsegment, o.n_orders
        FROM (SELECT c_custkey, c_mktsegment FROM customer
          WHERE c_mktsegment = 'BUILDING') c
        FULL JOIN (SELECT o_custkey, count(*)::BIGINT AS n_orders
          FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) o
        ON c.c_custkey = o.o_custkey""".replaceAll("\\s+", " "))),

    // GROUPING SETS beyond rollup/cube: two independent groupings in
    // one pass (per-returnflag and per-linestatus totals), plus
    // GROUPING() markers so all-null data rows can't masquerade as
    // subtotal rows.
    "agg_grouping_sets" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(expr("cast(sum(l_quantity) as bigint)").as("sum_qty"),
          count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls")),
      Some("""SELECT l_returnflag, l_linestatus,
          sum(l_quantity)::BIGINT AS sum_qty, count(*)::BIGINT AS n,
          grouping(l_returnflag)::BIGINT AS g_rf,
          grouping(l_linestatus)::BIGINT AS g_ls
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""
        .replaceAll("\\s+", " "))),

    // time-RANGE window frame: per-user trailing-10-minute rolling
    // count/sum at µs grain — the value-range frame (peers by time
    // distance, not row position) that rows-frames can't express.
    "win_range_time" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
          .rangeBetween(-600000000L, 0L)
        ev(s, dir)
          .select(col("user_id"), expr("ts div 1000").as("t_us"),
            col("value"))
          .select(col("user_id"), col("t_us"),
            count(lit(1)).over(w).as("roll_n"),
            round(sum(col("value")).over(w), 4).as("roll_sum"))
      },
      Some("""SELECT user_id, epoch_us(ts) AS t_us,
          count(*) OVER w AS roll_n,
          round(sum(value) OVER w, 4) AS roll_sum
        FROM events WINDOW w AS (PARTITION BY user_id
          ORDER BY epoch_us(ts)
          RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)"""
        .replaceAll("\\s+", " "))),

    // rank-distribution window family: ntile / cume_dist /
    // percent_rank per group. The ORDER BY includes the unique key so
    // the total order is deterministic (ntile splits ties by row
    // order — an order without the key would be partitioning-
    // dependent); cume_dist and percent_rank are then single exact
    // divisions (k/n, (rank−1)/(n−1)) — bit-identical cross-engine.
    "win_rank_dist" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            ntile(4).over(w).cast("long").as("quartile"),
            cume_dist().over(w).as("cume"),
            percent_rank().over(w).as("pct_rank"))
      },
      Some("""SELECT o_orderkey, o_orderstatus,
        (ntile(4) OVER w)::BIGINT AS quartile,
        cume_dist() OVER w AS cume,
        percent_rank() OVER w AS pct_rank
        FROM orders WINDOW w AS (PARTITION BY o_orderstatus
        ORDER BY o_totalprice, o_orderkey)"""
        .replaceAll("\\s+", " "))),

    // frame window: running total per customer.
    "win_running_total" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice")).over(w), 2).as("running"))
      },
      Some("""SELECT o_custkey, o_orderkey,
        round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running
        FROM orders""".replaceAll("\\s+", " "))),

    // analytic window: per-user inter-event gaps (lag).
    "win_lag_gap" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("time_us"), col("event_id"))
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            expr("ts div 1000").as("time_us"))
          .withColumn("gap_us", col("time_us") - lag(col("time_us"), 1).over(w))
          .select(col("user_id"), col("event_id"), col("gap_us"))
      },
      Some("""SELECT user_id, event_id,
        epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        ORDER BY epoch_us(ts), event_id) AS gap_us FROM events"""
        .replaceAll("\\s+", " "))),

    // first/last/nth value window functions: each user's first, most
    // recent, and second event value — same single window spec, ordered
    // frame extended to the full partition for last_value (the default
    // running frame would return the CURRENT row's value).
    "win_first_last" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("time_us"), col("event_id"))
        val full = w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            expr("ts div 1000").as("time_us"), col("value"))
          .withColumn("first_v", first(col("value")).over(w))
          .withColumn("last_v", last(col("value")).over(full))
          .withColumn("second_v", nth_value(col("value"), 2).over(w))
          .select(col("user_id"), col("event_id"), col("first_v"),
            col("last_v"), col("second_v"))
      },
      Some("""SELECT user_id, event_id,
        first_value(value) OVER win AS first_v,
        last_value(value) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
          AND UNBOUNDED FOLLOWING) AS last_v,
        nth_value(value, 2) OVER win AS second_v
        FROM events WINDOW win AS (PARTITION BY user_id
        ORDER BY epoch_us(ts), event_id)"""
        .replaceAll("\\s+", " "))),

    // CDC latest-wins upsert compaction: two change batches (pre/post a
    // cutover instant) unioned, then ONE row per (user_id, event_type)
    // key — the newest by (time, id). `max_by` over a lexicographic
    // (time_us, event_id, value) struct keeps the reduction a partial→
    // final hash agg (map-side combine, no per-key window sort state);
    // the oracle is the equivalent arg_max. This is the compaction pass
    // every incremental 100 TB ingest runs over its change log.
    "merge_latest_upsert" -> QueryDef(
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("time_us"), col("event_id"),
            col("value"))
        val cutUs = 1704067200000000L + 12L * 3600L * 1000000L
        val before = e.filter(col("time_us") < cutUs)
        val after = e.filter(col("time_us") >= cutUs)
        before.union(after)
          .groupBy(col("user_id"), col("event_type"))
          .agg(max(struct(col("time_us"), col("event_id"), col("value")))
            .as("m"))
          .select(col("user_id"), col("event_type"),
            col("m.time_us").as("time_us"),
            col("m.event_id").as("event_id"),
            col("m.value").as("value"))
      },
      Some("""SELECT user_id, event_type, m['tus'] AS time_us,
        m['id'] AS event_id, m['v'] AS value FROM (
        SELECT user_id, event_type, max({'tus': epoch_us(ts),
          'id': event_id, 'v': value}) AS m
        FROM events GROUP BY user_id, event_type)"""
        .replaceAll("\\s+", " "))),

    // set operations.
    "setop_union" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
        .union(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey")))
        .distinct(),
      Some("""SELECT c_custkey AS custkey FROM customer
        WHERE c_mktsegment='BUILDING'
        UNION SELECT o_custkey AS custkey FROM orders
        WHERE o_orderstatus='F'""".replaceAll("\\s+", " "))),

    "setop_except" -> QueryDef(
      (s, dir) => t(s, dir, "customer").select(col("c_custkey").as("custkey"))
        .except(t(s, dir, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey"))),
      Some("""SELECT c_custkey AS custkey FROM customer
        EXCEPT SELECT o_custkey AS custkey FROM orders
        WHERE o_orderstatus='O'""".replaceAll("\\s+", " "))),

    // multiset set ops: EXCEPT ALL / INTERSECT ALL keep multiplicity
    // (the bag semantics the distinct forms above erase) — except-all
    // yields each key with (left − right) occurrences, intersect-all
    // with min(left, right).
    "setop_except_all" -> QueryDef(
      (s, dir) => t(s, dir, "orders").select(col("o_custkey").as("custkey"))
        .exceptAll(t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey")))
        .groupBy(col("custkey")).agg(count(lit(1)).as("n")),
      Some("""SELECT custkey, count(*)::BIGINT AS n FROM (
          SELECT o_custkey AS custkey FROM orders
          EXCEPT ALL
          SELECT o_custkey AS custkey FROM orders
          WHERE o_orderstatus = 'F')
        GROUP BY 1""".replaceAll("\\s+", " "))),

    "setop_intersect_all" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nkey"))
        .intersectAll(t(s, dir, "supplier")
          .select(col("s_nationkey").cast("long").as("nkey")))
        .groupBy(col("nkey")).agg(count(lit(1)).as("n")),
      Some("""SELECT nkey, count(*)::BIGINT AS n FROM (
          SELECT c_nationkey::BIGINT AS nkey FROM customer
          INTERSECT ALL
          SELECT s_nationkey::BIGINT AS nkey FROM supplier)
        GROUP BY 1""".replaceAll("\\s+", " "))),

    "setop_intersect" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
        .intersect(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey"))),
      Some("""SELECT c_custkey AS custkey FROM customer
        WHERE c_mktsegment='BUILDING'
        INTERSECT SELECT o_custkey AS custkey FROM orders
        WHERE o_orderstatus='F'""".replaceAll("\\s+", " "))),

    // grouped stats incl. exact distinct count.
    //
    // FORMULATION HISTORY (driver-gate bisection, r13): r11 form,
    // driver-green r10+r11; the r12 half-up exact-cents rewrite went
    // driver-RED (see q1_pricing_summary's note). The rewrite's
    // construct — uncast integer `//` quotient divided by a decimal
    // literal — was isolated in the probe_halfup_* battery (the red
    // probes were retired in r16 after the composite gate went green).
    "agg_stats" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_cust"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          round(avg(col("o_totalprice")), 2).as("avg_price")),
      Some("""SELECT o_orderpriority, count(*)::BIGINT AS n,
        count(DISTINCT o_custkey)::BIGINT AS n_cust,
        min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        round(avg(o_totalprice),2) AS avg_price
        FROM orders GROUP BY o_orderpriority""".replaceAll("\\s+", " "))),

    // ANALYZE-style column profile: ONE scan, one Expand+two-phase
    // aggregate for all per-column non-null/exact-distinct/min/max
    // stats, reshaped long. min/max stringified so the long format has
    // a uniform schema across column types.
    "stats_column_profile" -> QueryDef(
      (s, dir) => Profiling.columnProfile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_quantity", "l_discount", "l_returnflag",
          "l_shipdate")),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
            count($c)::BIGINT AS n_nonnull,
            count(DISTINCT $c)::BIGINT AS n_distinct,
            min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s
            FROM lineitem"""
        Seq("l_orderkey", "l_quantity", "l_discount", "l_returnflag",
          "l_shipdate").map(one).mkString(" UNION ALL ")
          .replaceAll("\\s+", " ")
      }),

    // equi-depth histogram, two-phase: (1) quartile cutpoints — three
    // scalars to the driver, broadcast-equivalent (at 100 TB swap the
    // exact percentile for approx_percentile, same shape); (2) bucket =
    // count of cutpoints strictly below the value — a pure projection
    // feeding a partial/final count agg. NO global sort: the naive
    // ntile() form would funnel the whole table through one ordered
    // window partition. Integral values keep the interpolated cutpoint
    // comparison engine-stable (see agg_percentiles).
    // winsorized per-group stats over exact price cents: order-statistic
    // trim bounds (kLo-th/kHi-th smallest, 5% per tail) selected from
    // the distinct-value frequency frame (the window sorts the value
    // DOMAIN, never the corpus), clamp folded into Σ n_v·clamp(c) —
    // exact Long end-to-end, mean as half-up integer division into
    // micro-dollars. Oracle mirrors the identical cumulative-count rank
    // selection.
    "stats_winsorized" -> QueryDef(
      (s, dir) => Profiling.winsorizedStats(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100, 0).cast("long")
              .as("cents")),
        Seq("l_returnflag"), "cents"),
      Some("""WITH f AS (SELECT l_returnflag,
          CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
          count(*)::BIGINT AS n_v FROM lineitem GROUP BY 1, 2),
        cu AS (SELECT l_returnflag, c, n_v, sum(n_v) OVER
          (PARTITION BY l_returnflag ORDER BY c) AS cum FROM f),
        t AS (SELECT l_returnflag, sum(n_v)::BIGINT AS n,
          (sum(n_v)::BIGINT + 19) // 20 AS klo,
          sum(n_v)::BIGINT - ((sum(n_v)::BIGINT + 19) // 20) + 1 AS khi
          FROM f GROUP BY 1),
        b AS (SELECT cu.l_returnflag,
          min(CASE WHEN cum >= klo THEN c END) AS lo_c,
          min(CASE WHEN cum >= khi THEN c END) AS hi_c
          FROM cu JOIN t USING (l_returnflag) GROUP BY 1)
        SELECT f.l_returnflag, t.n, b.lo_c, b.hi_c,
          CAST((2 * sum(f.n_v * greatest(least(f.c, b.hi_c), b.lo_c))
            * 10000 + t.n) // (2 * t.n) AS BIGINT) AS wmean_u
        FROM f JOIN b USING (l_returnflag) JOIN t USING (l_returnflag)
        GROUP BY 1, 2, 3, 4""".replaceAll("\\s+", " "))),

    // pairwise Pearson correlation matrix of lineitem's small numeric
    // columns (quantity, discount bp, tax bp) — exact Long sums in ONE
    // corpus pass, each correlation one shared-order IEEE expression.
    "stats_corr_matrix" -> QueryDef(
      (s, dir) => Profiling.corrMatrix(
        t(s, dir, "lineitem").select(
          col("l_quantity").cast("long").as("qty"),
          round(col("l_discount") * 10000, 0).cast("long").as("disc_bp"),
          round(col("l_tax") * 10000, 0).cast("long").as("tax_bp")),
        Seq("qty", "disc_bp", "tax_bp")),
      Some("""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
          CAST(round(l_discount * 10000, 0) AS BIGINT) AS y,
          CAST(round(l_tax * 10000, 0) AS BIGINT) AS z FROM lineitem),
        sm AS (SELECT count(*)::BIGINT AS n,
          sum(x)::BIGINT AS sx, sum(x*x)::BIGINT AS qx,
          sum(y)::BIGINT AS sy, sum(y*y)::BIGINT AS qy,
          sum(z)::BIGINT AS sz, sum(z*z)::BIGINT AS qz,
          sum(x*y)::BIGINT AS pxy, sum(x*z)::BIGINT AS pxz,
          sum(y*z)::BIGINT AS pyz FROM b)
        SELECT 'qty' AS col_a, 'disc_bp' AS col_b, n,
          CASE WHEN (n::DOUBLE*qx - sx::DOUBLE*sx) > 0
               AND (n::DOUBLE*qy - sy::DOUBLE*sy) > 0 THEN
            round((n::DOUBLE*pxy - sx::DOUBLE*sy) /
              (sqrt(n::DOUBLE*qx - sx::DOUBLE*sx) *
               sqrt(n::DOUBLE*qy - sy::DOUBLE*sy)), 4) END AS corr FROM sm
        UNION ALL SELECT 'qty', 'tax_bp', n,
          CASE WHEN (n::DOUBLE*qx - sx::DOUBLE*sx) > 0
               AND (n::DOUBLE*qz - sz::DOUBLE*sz) > 0 THEN
            round((n::DOUBLE*pxz - sx::DOUBLE*sz) /
              (sqrt(n::DOUBLE*qx - sx::DOUBLE*sx) *
               sqrt(n::DOUBLE*qz - sz::DOUBLE*sz)), 4) END FROM sm
        UNION ALL SELECT 'disc_bp', 'tax_bp', n,
          CASE WHEN (n::DOUBLE*qy - sy::DOUBLE*sy) > 0
               AND (n::DOUBLE*qz - sz::DOUBLE*sz) > 0 THEN
            round((n::DOUBLE*pyz - sy::DOUBLE*sz) /
              (sqrt(n::DOUBLE*qy - sy::DOUBLE*sy) *
               sqrt(n::DOUBLE*qz - sz::DOUBLE*sz)), 4) END FROM sm"""
        .replaceAll("\\s+", " "))),

    // two-sample Kolmogorov–Smirnov drift test between the click and
    // purchase value distributions — D kept as the cross-multiplied
    // integer max|cum1·n2 − cum2·n1| (exact; no division inside the
    // max), one rounded double at the end. CDF windows run on the
    // value-domain frame (allowlisted).
    "stats_ks_test" -> QueryDef(
      (s, dir) => Profiling.ksTest(
        ev(s, dir).select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        "event_type", "cents", "click", "purchase"),
      Some("""WITH f AS (SELECT CAST(round(value * 100, 0) AS BIGINT)
          AS v,
          sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
            AS na,
          sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            ::BIGINT AS nb
          FROM events WHERE event_type IN ('click', 'purchase')
          GROUP BY 1),
        c AS (SELECT v, sum(na) OVER (ORDER BY v) AS ca,
          sum(nb) OVER (ORDER BY v) AS cb,
          sum(na) OVER () AS n1, sum(nb) OVER () AS n2 FROM f)
        SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
          max(abs(ca * n2 - cb * n1))::BIGINT AS d_num,
          round((max(abs(ca * n2 - cb * n1)))::DOUBLE /
            (n1 * n2)::DOUBLE, 6) AS d
        FROM c GROUP BY n1, n2""".replaceAll("\\s+", " "))),

    // DDSketch log-bucket quantile sketch per event type — the
    // MERGEABLE quantile primitive (bucket counts are additive, so
    // partial aggregation/merge order can't move the answer). p50/p90/p99
    // estimates carry a ≤ 2% relative-error guarantee vs the exact
    // order statistic (pinned in QuantileSketchSpec); the whole path
    // — ⌈ln v/ln γ⌉ bucketing, rank pick, midpoint estimate — is one
    // shared fixed-order formula in both engines (the stats_benford
    // floor-of-log precedent covers the libm ulp hazard).
    "stats_dd_quantiles" -> QueryDef(
      (s, dir) => QuantileSketch.ddQuantiles(
        ev(s, dir).select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        Seq("event_type"), "cents", alphaBp = 200,
        qs = Seq((50L, 100L), (90L, 100L), (99L, 100L)),
        names = Seq("p50_r", "p90_r", "p99_r")),
      Some {
        val g = QuantileSketch.gamma(200)
        val lnG = math.log(g).toString
        val gp1 = (g + 1.0).toString
        s"""WITH v AS (SELECT event_type AS g,
            CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
            WHERE CAST(round(value * 100, 0) AS BIGINT) > 0),
          b AS (SELECT g,
            CAST(ceil(ln(c::DOUBLE) / $lnG) AS BIGINT) AS bk,
            count(*)::BIGINT AS cnt FROM v GROUP BY 1, 2),
          cu AS (SELECT g, bk,
            sum(cnt) OVER (PARTITION BY g ORDER BY bk) AS cum,
            sum(cnt) OVER (PARTITION BY g) AS n FROM b),
          p AS (SELECT g, max(n)::BIGINT AS n,
            min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bk END)
              AS b50,
            min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bk END)
              AS b90,
            min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bk END)
              AS b99
            FROM cu GROUP BY g)
          SELECT g AS event_type, n,
            round(2.0 * exp(b50 * $lnG) / $gp1, 4) AS p50_r,
            round(2.0 * exp(b90 * $lnG) / $gp1, 4) AS p90_r,
            round(2.0 * exp(b99 * $lnG) / $gp1, 4) AS p99_r
          FROM p""".replaceAll("\\s+", " ")
      }),

    // MERGEABLE distinct-count partials: per-(type, day) HLL sketches
    // (DataSketches hll_sketch_agg) unioned across days — the
    // incremental-view form of COUNT(DISTINCT) at 100 TB: each new
    // day contributes one bounded sketch row and history is never
    // rescanned (the Incremental.partialStats story for the one
    // aggregate that ISN'T algebraic in raw form). Rows-only by
    // design (sketch estimates are engine-specific); HllPartialsSpec
    // pins merge-invariance (union of daily partials ≡ one direct
    // sketch, exactly — HLL registers are maxes, so partitioning
    // cannot move the estimate) and the ≤ 5% error envelope.
    "incr_hll_partials" -> QueryDef(
      (s, dir) => ev(s, dir)
        .select(col("event_type"),
          expr("ts div 86400000000000").as("day"), col("user_id"))
        .groupBy(col("event_type"), col("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as bigint)")
            .as("approx_users")),
      None),

    // k-anonymity audit over the (user_id, event_type, day)
    // quasi-identifier — the privacy screen before a dataset release:
    // what fraction of rows sit in re-identifiable classes (< k=5
    // peers sharing the same QI tuple). One groupBy(QI) pass + one
    // class-frame aggregate; exact floored integers.
    "stats_k_anonymity" -> QueryDef(
      (s, dir) => Profiling.kAnonymity(
        ev(s, dir).select(col("user_id"), col("event_type"),
          expr("ts div 86400000000000").as("day")),
        Seq("user_id", "event_type", "day"), k = 5L),
      Some("""WITH cl AS (SELECT user_id, event_type,
          epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS sz
          FROM events GROUP BY 1, 2, 3)
        SELECT sum(sz)::BIGINT AS n_rows,
          count(*)::BIGINT AS n_classes,
          min(sz)::BIGINT AS min_class,
          sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END)::BIGINT AS n_small,
          sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)::BIGINT
            AS rows_at_risk,
          CAST((sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 10000) //
            sum(sz) AS BIGINT) AS risk_bp
        FROM cl""".replaceAll("\\s+", " "))),

    // join-key SKEW audit over the events user_id — the diagnostic
    // that decides whether a shuffle key needs salting/AQE skew
    // handling BEFORE the join runs (SkewJoin's planning input). One
    // groupBy(key) pass + TakeOrdered(10) bounded heaps; exact
    // floored share/skew integers.
    "stats_key_skew" -> QueryDef(
      (s, dir) => Profiling.keySkew(ev(s, dir), "user_id", 10),
      Some("""WITH c AS (SELECT user_id::VARCHAR AS key,
          count(*)::BIGINT AS cnt FROM events GROUP BY 1),
        t AS (SELECT sum(cnt)::BIGINT AS n_rows,
          count(*)::BIGINT AS n_keys FROM c),
        top AS (SELECT key, cnt FROM c
          ORDER BY cnt DESC, key LIMIT 10)
        SELECT key, cnt, n_rows, n_keys,
          (cnt * 10000) // n_rows AS share_bp,
          (cnt * n_keys * 100) // n_rows AS skew_x100
        FROM top CROSS JOIN t""".replaceAll("\\s+", " "))),

    // hour-of-week seasonality profile per event type: n + half-up
    // mean cents per (type, hour-of-week) cell — the weekly-shape
    // fingerprint behind capacity planning and the seasonal
    // Holt-Winters initialization. The hour index is PURE integer
    // epoch arithmetic ((ns-hour + 96) mod 168, 0 = Monday 00:00
    // UTC) — no engine calendar/dayofweek conventions to disagree on.
    "ts_weekly_profile" -> QueryDef(
      (s, dir) => ev(s, dir)
        .select(col("event_type"),
          expr("((ts div 3600000000000) + 96) % 168").as("how"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .groupBy(col("event_type"), col("how"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        .select(col("event_type"), col("how"), col("n"),
          expr("(2 * s + n) div (2 * n)").as("mean_c")),
      Some("""SELECT event_type,
          ((epoch_us(ts) // 3600000000) + 96) % 168 AS how,
          count(*)::BIGINT AS n,
          CAST((2 * sum(CAST(round(value * 100, 0) AS BIGINT)) +
            count(*)) // (2 * count(*)) AS BIGINT) AS mean_c
        FROM events GROUP BY 1, 2""".replaceAll("\\s+", " "))),

    // Mann–Whitney U between click and purchase value distributions —
    // the distribution-free location companion to stats_welch_t,
    // exactly as stats_ks_test companions its shape test. Doubled
    // midranks keep every rank sum an exact Long off the merged
    // value-domain frame; z is the tie-corrected normal
    // approximation, fixed-order IEEE rounded 4.
    "stats_mannwhitney" -> QueryDef(
      (s, dir) => Profiling.mannWhitney(
        ev(s, dir).select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        "event_type", "cents", "click", "purchase"),
      Some("""WITH f AS (SELECT CAST(round(value * 100, 0) AS BIGINT)
          AS v,
          sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
            AS ca,
          sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            ::BIGINT AS cb
          FROM events WHERE event_type IN ('click', 'purchase')
          GROUP BY 1),
        c AS (SELECT v, ca, cb, ca + cb AS t,
          sum(ca + cb) OVER (ORDER BY v) AS cum_le,
          sum(ca) OVER () AS na, sum(cb) OVER () AS nb FROM f),
        s AS (SELECT na::BIGINT AS na, nb::BIGINT AS nb,
          sum(ca * (2 * (cum_le - t) + t + 1))::BIGINT AS r2a,
          sum(t * t * t - t)::BIGINT AS ties
          FROM c GROUP BY na, nb)
        SELECT na AS n_a, nb AS n_b,
          (r2a - na * (na + 1))::BIGINT AS u2,
          CASE WHEN na > 0 AND nb > 0 AND na + nb > 1 AND
            (na::DOUBLE * nb::DOUBLE * ((na + nb)::DOUBLE + 1.0 -
              ties::DOUBLE / ((na + nb)::DOUBLE *
                ((na + nb)::DOUBLE - 1.0))) / 12.0) > 0
          THEN round(((r2a - na * (na + 1))::DOUBLE -
              na::DOUBLE * nb::DOUBLE) /
            (2.0 * sqrt(na::DOUBLE * nb::DOUBLE *
              ((na + nb)::DOUBLE + 1.0 - ties::DOUBLE /
                ((na + nb)::DOUBLE * ((na + nb)::DOUBLE - 1.0)))
              / 12.0)), 4) END AS z_r
        FROM s""".replaceAll("\\s+", " "))),

    // Kruskal–Wallis H across ALL event types — the rank-based
    // one-way ANOVA (stats_anova_f's distribution-free companion):
    // doubled midranks off the merged value-domain frame, H combined
    // in double from the k exact (n_i, 2R_i) pairs (k-row sum ⇒
    // rounded 4, the anovaF precedent), tie-corrected.
    "stats_kruskal" -> QueryDef(
      (s, dir) => Profiling.kruskalWallis(
        ev(s, dir).select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        "event_type", "cents"),
      Some("""WITH f AS (SELECT event_type AS g,
          CAST(round(value * 100, 0) AS BIGINT) AS v,
          count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
        m AS (SELECT v, sum(c)::BIGINT AS t FROM f GROUP BY 1),
        mc AS (SELECT v, t, sum(t) OVER (ORDER BY v) AS cum_le
          FROM m),
        per AS (SELECT g, sum(c)::BIGINT AS n_i,
          sum(c * (2 * (mc.cum_le - mc.t) + mc.t + 1))::BIGINT
            AS r2_i
          FROM f JOIN mc USING (v) GROUP BY g),
        one AS (SELECT count(*)::BIGINT AS k, sum(n_i)::BIGINT AS n,
          sum(r2_i::DOUBLE * r2_i::DOUBLE / (4.0 * n_i::DOUBLE))
            AS rr FROM per),
        tt AS (SELECT sum(t * t * t - t)::BIGINT AS ties FROM m)
        SELECT k, n,
          CASE WHEN k > 1 AND n > k AND
            (1.0 - ties::DOUBLE / (n::DOUBLE * n::DOUBLE * n::DOUBLE
              - n::DOUBLE)) > 0
          THEN round((12.0 / (n::DOUBLE * (n::DOUBLE + 1.0)) * rr -
              3.0 * (n::DOUBLE + 1.0)) /
            (1.0 - ties::DOUBLE / (n::DOUBLE * n::DOUBLE * n::DOUBLE
              - n::DOUBLE)), 4) END AS h_r
        FROM one CROSS JOIN tt""".replaceAll("\\s+", " "))),

    // Benford first-digit audit: observed leading-digit shares of a
    // positive numeric column vs the Benford expectation
    // log₁₀(1 + 1/d), both in basis points — the classic
    // fabricated-data / unit-mixing screen. Digit extraction is
    // string-prefix on the integer cents (identical both engines);
    // expected shares floor a libm log10 whose 10⁴-scaled values sit
    // nowhere near integer boundaries, so the floor cannot flip.
    "stats_benford" -> QueryDef(
      (s, dir) => {
        val d = t(s, dir, "lineitem")
          .select(substring(round(col("l_extendedprice") * 100, 0)
            .cast("long").cast("string"), 1, 1).as("digit"))
          .filter(col("digit").between("1", "9"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val tot = d.agg(sum(col("n")).as("n_tot"))
        d.crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            expr("(n * 10000) div n_tot").as("obs_bp"),
            floor(log10(lit(1.0) +
              lit(1.0) / col("digit").cast("double")) * 10000)
              .cast("long").as("exp_bp"))
          .withColumn("dev_bp", abs(col("obs_bp") - col("exp_bp")))
      },
      Some("""WITH dg AS (SELECT substr(CAST(CAST(round(
            l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1)
            AS digit FROM lineitem),
        c AS (SELECT digit, count(*)::BIGINT AS n FROM dg
          WHERE digit BETWEEN '1' AND '9' GROUP BY 1),
        t AS (SELECT sum(n)::BIGINT AS n_tot FROM c)
        SELECT digit, n, ((n * 10000) // n_tot)::BIGINT AS obs_bp,
          CAST(floor(log10(1.0 + 1.0 / digit::DOUBLE) * 10000)
            AS BIGINT) AS exp_bp,
          abs(((n * 10000) // n_tot) - CAST(floor(log10(1.0 + 1.0 /
            digit::DOUBLE) * 10000) AS BIGINT))::BIGINT AS dev_bp
        FROM c CROSS JOIN t""".replaceAll("\\s+", " "))),

    // MAD robust outliers: median / median-absolute-deviation order
    // statistics on the distinct-value frequency frame (the
    // winsorizedStats discipline twice over) + the k·MAD fence count —
    // heavy-tail-safe outlier flagging whose baseline is not dragged
    // by the outliers themselves. All exact Longs.
    "stats_mad_outliers" -> QueryDef(
      (s, dir) => Profiling.madStats(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100, 0).cast("long")
              .as("cents")),
        Seq("l_returnflag"), "cents"),
      Some("""WITH f AS (SELECT l_returnflag AS g,
          CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
          count(*)::BIGINT AS n_v FROM lineitem GROUP BY 1, 2),
        cu AS (SELECT g, c, n_v, sum(n_v) OVER
          (PARTITION BY g ORDER BY c) AS cum FROM f),
        t AS (SELECT g, sum(n_v)::BIGINT AS n,
          ((sum(n_v)::BIGINT + 1) // 2) AS kmid FROM f GROUP BY 1),
        m AS (SELECT cu.g, min(CASE WHEN cum >= kmid THEN c END)
          AS median_c FROM cu JOIN t USING (g) GROUP BY 1),
        dv AS (SELECT f.g, abs(f.c - m.median_c) AS d,
          sum(f.n_v)::BIGINT AS n_d FROM f JOIN m USING (g)
          GROUP BY 1, 2),
        dc AS (SELECT g, d, n_d, sum(n_d) OVER
          (PARTITION BY g ORDER BY d) AS cum FROM dv),
        md AS (SELECT dc.g, min(CASE WHEN cum >= kmid THEN d END)
          AS mad_c FROM dc JOIN t USING (g) GROUP BY 1)
        SELECT dv.g AS l_returnflag, t.n, m.median_c, md.mad_c,
          sum(CASE WHEN dv.d > 3 * md.mad_c THEN dv.n_d ELSE 0 END)
            ::BIGINT AS n_outliers
        FROM dv JOIN md USING (g) JOIN t USING (g) JOIN m USING (g)
        GROUP BY 1, 2, 3, 4""".replaceAll("\\s+", " "))),

    // per-group OLS fit of discount (bp) on quantity — the parametric
    // line once ts_mk_trend/ts_theil_sen say a trend exists. Six
    // exact-Long sums in one pass; normal-equation combination in
    // fixed-order DOUBLE (overflow-safe at any SF), rounded 6.
    "stats_linreg" -> QueryDef(
      (s, dir) => Profiling.linReg(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_discount") * 10000, 0).cast("long")
            .as("disc_bp")),
        Seq("l_returnflag"), "qty", "disc_bp"),
      Some("""WITH b AS (SELECT l_returnflag,
          CAST(l_quantity AS BIGINT) AS x,
          CAST(round(l_discount * 10000, 0) AS BIGINT) AS y
          FROM lineitem),
        s AS (SELECT l_returnflag, count(*)::BIGINT AS n,
          sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
          sum(x*x)::BIGINT AS qx, sum(y*y)::BIGINT AS qy,
          sum(x*y)::BIGINT AS pxy FROM b GROUP BY 1)
        SELECT l_returnflag, n,
          CASE WHEN (n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
            > 0 THEN round(
            (n::DOUBLE * pxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
            (n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
          END AS slope_r,
          CASE WHEN (n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
            > 0 THEN round((sy::DOUBLE -
            ((n::DOUBLE * pxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
             (n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
            * sx::DOUBLE) / n::DOUBLE, 6) END AS icept_r,
          CASE WHEN (n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
            > 0 AND (n::DOUBLE * qy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
            > 0 THEN round(
            (n::DOUBLE * pxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) *
            (n::DOUBLE * pxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
            ((n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
             (n::DOUBLE * qy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
          END AS r2_r
        FROM s""".replaceAll("\\s+", " "))),

    // Welch's t between the click and purchase value distributions —
    // the mean-shift companion to stats_ks_test's shape test. Exact
    // Long (n, Σx, Σx²) per cohort; t and Welch–Satterthwaite df in
    // fixed-order DOUBLE from those sums, rounded 4 / 2.
    "stats_ttest" -> QueryDef(
      (s, dir) => Profiling.welchT(
        ev(s, dir).select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        "event_type", "cents", "click", "purchase"),
      Some("""WITH b AS (SELECT event_type,
          CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
          WHERE event_type IN ('click', 'purchase')),
        s AS (SELECT
          max(CASE WHEN event_type='click' THEN n END) AS n1,
          max(CASE WHEN event_type='click' THEN sx END) AS sx1,
          max(CASE WHEN event_type='click' THEN qx END) AS qx1,
          max(CASE WHEN event_type='purchase' THEN n END) AS n2,
          max(CASE WHEN event_type='purchase' THEN sx END) AS sx2,
          max(CASE WHEN event_type='purchase' THEN qx END) AS qx2
          FROM (SELECT event_type, count(*)::BIGINT AS n,
            sum(c)::BIGINT AS sx, sum(c*c)::BIGINT AS qx
            FROM b GROUP BY 1)),
        v AS (SELECT n1, n2, sx1, sx2,
          ((n1::DOUBLE * qx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE) /
            (n1::DOUBLE * (n1::DOUBLE - 1.0))) / n1::DOUBLE AS se1,
          ((n2::DOUBLE * qx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE) /
            (n2::DOUBLE * (n2::DOUBLE - 1.0))) / n2::DOUBLE AS se2
          FROM s)
        SELECT n1, n2,
          CAST((2 * sx1 * 10000 + n1) // (2 * n1) AS BIGINT)
            AS mean1_u,
          CAST((2 * sx2 * 10000 + n2) // (2 * n2) AS BIGINT)
            AS mean2_u,
          CASE WHEN n1 > 1 AND n2 > 1 THEN round(
            (sx1::DOUBLE / n1::DOUBLE - sx2::DOUBLE / n2::DOUBLE) /
            sqrt(se1 + se2), 4) END AS t_r,
          CASE WHEN n1 > 1 AND n2 > 1 THEN round(
            (se1 + se2) * (se1 + se2) /
            (se1 * se1 / (n1::DOUBLE - 1.0) +
             se2 * se2 / (n2::DOUBLE - 1.0)), 2) END AS df_r
        FROM v""".replaceAll("\\s+", " "))),

    // A/B experiment readout: users deterministically hash-assigned
    // to variants (the md5 split convention — reproducible, balanced,
    // assignment independent of behavior), then BOTH the parametric
    // (Welch t) and distribution-free (Mann–Whitney z) verdicts on
    // purchase values side by side — the standard experimentation
    // readout, and on a null A/A-style split both tests should stay
    // quiet (|z| small), which the oracle replays exactly.
    "behavior_ab_test" -> QueryDef(
      (s, dir) => {
        val assigned = ev(s, dir)
          .filter(col("event_type") === "purchase")
          .select(
            when(expr("cast(conv(substring(md5(concat(cast(user_id " +
              "as string), ':ab1')), 1, 15), 16, 10) as bigint) % 2")
              === 0, "a").otherwise("b").as("variant"),
            round(col("value") * 100, 0).cast("long").as("cents"))
        val w = Profiling.welchT(assigned, "variant", "cents",
          "a", "b")
        val u = Profiling.mannWhitney(assigned, "variant", "cents",
          "a", "b")
        w.crossJoin(broadcast(u.select(col("u2"),
            col("z_r").as("mw_z_r"))))
          .select(col("n1").as("n_a"), col("n2").as("n_b"),
            col("mean1_u").as("mean_a_u"),
            col("mean2_u").as("mean_b_u"),
            col("t_r"), col("u2"), col("mw_z_r"))
      },
      Some("""WITH asg AS (SELECT CASE WHEN
            ('0x'||substr(md5(user_id::VARCHAR || ':ab1'),1,15))
              ::BIGINT % 2 = 0 THEN 'a' ELSE 'b' END AS g,
          CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
          WHERE event_type = 'purchase'),
        st AS (SELECT
          max(CASE WHEN g='a' THEN n END) AS n1,
          max(CASE WHEN g='a' THEN sx END) AS sx1,
          max(CASE WHEN g='a' THEN qx END) AS qx1,
          max(CASE WHEN g='b' THEN n END) AS n2,
          max(CASE WHEN g='b' THEN sx END) AS sx2,
          max(CASE WHEN g='b' THEN qx END) AS qx2
          FROM (SELECT g, count(*)::BIGINT AS n,
            sum(c)::BIGINT AS sx, sum(c*c)::BIGINT AS qx
            FROM asg GROUP BY 1)),
        sv AS (SELECT n1, n2, sx1, sx2,
          ((n1::DOUBLE * qx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE) /
            (n1::DOUBLE * (n1::DOUBLE - 1.0))) / n1::DOUBLE AS se1,
          ((n2::DOUBLE * qx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE) /
            (n2::DOUBLE * (n2::DOUBLE - 1.0))) / n2::DOUBLE AS se2
          FROM st),
        mwf AS (SELECT c AS v,
          sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END)::BIGINT AS ca,
          sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END)::BIGINT AS cb
          FROM asg GROUP BY 1),
        mwc AS (SELECT v, ca, cb, ca + cb AS t,
          sum(ca + cb) OVER (ORDER BY v) AS cum_le,
          sum(ca) OVER () AS na, sum(cb) OVER () AS nb FROM mwf),
        mws AS (SELECT na::BIGINT AS na, nb::BIGINT AS nb,
          sum(ca * (2 * (cum_le - t) + t + 1))::BIGINT AS r2a,
          sum(t * t * t - t)::BIGINT AS ties
          FROM mwc GROUP BY na, nb),
        mw AS (SELECT (r2a - na * (na + 1))::BIGINT AS u2,
          CASE WHEN na > 0 AND nb > 0 AND na + nb > 1 AND
            (na::DOUBLE * nb::DOUBLE * ((na + nb)::DOUBLE + 1.0 -
              ties::DOUBLE / ((na + nb)::DOUBLE *
                ((na + nb)::DOUBLE - 1.0))) / 12.0) > 0
          THEN round(((r2a - na * (na + 1))::DOUBLE -
              na::DOUBLE * nb::DOUBLE) /
            (2.0 * sqrt(na::DOUBLE * nb::DOUBLE *
              ((na + nb)::DOUBLE + 1.0 - ties::DOUBLE /
                ((na + nb)::DOUBLE * ((na + nb)::DOUBLE - 1.0)))
              / 12.0)), 4) END AS mw_z_r FROM mws)
        SELECT sv.n1 AS n_a, sv.n2 AS n_b,
          CAST((2 * sv.sx1 * 10000 + sv.n1) // (2 * sv.n1) AS BIGINT)
            AS mean_a_u,
          CAST((2 * sv.sx2 * 10000 + sv.n2) // (2 * sv.n2) AS BIGINT)
            AS mean_b_u,
          CASE WHEN sv.n1 > 1 AND sv.n2 > 1 THEN round(
            (sv.sx1::DOUBLE / sv.n1::DOUBLE -
             sv.sx2::DOUBLE / sv.n2::DOUBLE) /
            sqrt(sv.se1 + sv.se2), 4) END AS t_r,
          mw.u2, mw.mw_z_r
        FROM sv CROSS JOIN mw""".replaceAll("\\s+", " "))),

    // sample-ratio-mismatch guardrail: is the A/B assignment actually
    // 50/50 — THE standard pre-read sanity check (an SRM means the
    // assignment or logging is broken and every downstream p-value is
    // garbage). Counts DISTINCT USERS per variant (assignment is
    // per-user; event-weighted counts would conflate traffic with
    // assignment); z = (n_a − n_b)/√(n_a + n_b), one IEEE chain over
    // exact counts, rounded 4.
    "behavior_ab_srm" -> QueryDef(
      (s, dir) => {
        val users = ev(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id")).distinct()
          .select(
            when(expr("cast(conv(substring(md5(concat(cast(user_id " +
              "as string), ':ab1')), 1, 15), 16, 10) as bigint) % 2")
              === 0, "a").otherwise("b").as("variant"))
        val c = users.groupBy(col("variant"))
          .agg(count(lit(1)).as("n"))
          .agg(max(when(col("variant") === "a", col("n"))).as("n_a"),
            max(when(col("variant") === "b", col("n"))).as("n_b"))
        def d(cn: String) = col(cn).cast("double")
        c.select(col("n_a"), col("n_b"),
          round((d("n_a") - d("n_b")) / sqrt(d("n_a") + d("n_b")), 4)
            .as("srm_z_r"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase'),
        a AS (SELECT CASE WHEN
            ('0x'||substr(md5(user_id::VARCHAR || ':ab1'),1,15))
              ::BIGINT % 2 = 0 THEN 'a' ELSE 'b' END AS g FROM u),
        c AS (SELECT
          max(CASE WHEN g='a' THEN n END) AS n_a,
          max(CASE WHEN g='b' THEN n END) AS n_b
          FROM (SELECT g, count(*)::BIGINT AS n FROM a GROUP BY 1))
        SELECT n_a, n_b,
          round((n_a::DOUBLE - n_b::DOUBLE) /
            sqrt(n_a::DOUBLE + n_b::DOUBLE), 4) AS srm_z_r
        FROM c""".replaceAll("\\s+", " "))),

    // experiment POWER: the minimum detectable effect of the A/B
    // split at 80% power / two-sided α=5% — mde = (z_{α/2}+z_β)·se =
    // 2.8015849··· · √(s²₁/n₁ + s²₂/n₂) — the number that answers
    // "could this experiment even see the lift we care about" BEFORE
    // reading its p-value. One fixed-order IEEE chain over the exact
    // Welch sums, rounded 4 (cents).
    "behavior_ab_power" -> QueryDef(
      (s, dir) => {
        val assigned = ev(s, dir)
          .filter(col("event_type") === "purchase")
          .select(
            when(expr("cast(conv(substring(md5(concat(cast(user_id " +
              "as string), ':ab1')), 1, 15), 16, 10) as bigint) % 2")
              === 0, "a").otherwise("b").as("variant"),
            round(col("value") * 100, 0).cast("long").as("cents"))
          .groupBy(col("variant"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"),
            sum(col("cents") * col("cents")).as("qx"))
        val w = assigned.agg(
          max(when(col("variant") === "a", col("n"))).as("n1"),
          max(when(col("variant") === "a", col("sx"))).as("sx1"),
          max(when(col("variant") === "a", col("qx"))).as("qx1"),
          max(when(col("variant") === "b", col("n"))).as("n2"),
          max(when(col("variant") === "b", col("sx"))).as("sx2"),
          max(when(col("variant") === "b", col("qx"))).as("qx2"))
        def d(c: String) = col(c).cast("double")
        val se1 = ((d("n1") * d("qx1") - d("sx1") * d("sx1")) /
          (d("n1") * (d("n1") - 1.0))) / d("n1")
        val se2 = ((d("n2") * d("qx2") - d("sx2") * d("sx2")) /
          (d("n2") * (d("n2") - 1.0))) / d("n2")
        w.select(col("n1").as("n_a"), col("n2").as("n_b"),
          when(col("n1") > 1 && col("n2") > 1,
            round(lit(2.8015849) * sqrt(se1 + se2), 4))
            .as("mde_c_r"))
      },
      Some("""WITH asg AS (SELECT CASE WHEN
            ('0x'||substr(md5(user_id::VARCHAR || ':ab1'),1,15))
              ::BIGINT % 2 = 0 THEN 'a' ELSE 'b' END AS g,
          CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
          WHERE event_type = 'purchase'),
        st AS (SELECT
          max(CASE WHEN g='a' THEN n END) AS n1,
          max(CASE WHEN g='a' THEN sx END) AS sx1,
          max(CASE WHEN g='a' THEN qx END) AS qx1,
          max(CASE WHEN g='b' THEN n END) AS n2,
          max(CASE WHEN g='b' THEN sx END) AS sx2,
          max(CASE WHEN g='b' THEN qx END) AS qx2
          FROM (SELECT g, count(*)::BIGINT AS n,
            sum(c)::BIGINT AS sx, sum(c*c)::BIGINT AS qx
            FROM asg GROUP BY 1))
        SELECT n1 AS n_a, n2 AS n_b,
          CASE WHEN n1 > 1 AND n2 > 1 THEN round(2.8015849 * sqrt(
            ((n1::DOUBLE * qx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE) /
              (n1::DOUBLE * (n1::DOUBLE - 1.0))) / n1::DOUBLE +
            ((n2::DOUBLE * qx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE) /
              (n2::DOUBLE * (n2::DOUBLE - 1.0))) / n2::DOUBLE), 4)
          END AS mde_c_r
        FROM st""".replaceAll("\\s+", " "))),

    // calendar effect: Welch's t between weekday and weekend value
    // distributions — "is weekend traffic actually different", the
    // seasonality INFERENCE companion to ts_weekly_profile's
    // descriptive shape. The cohort is pure integer epoch arithmetic
    // ((epoch-day + 3) mod 7 ≥ 5, 0 = Monday — no engine calendar
    // conventions), then the exact-Long Welch machinery as
    // stats_ttest.
    "stats_calendar_effect" -> QueryDef(
      (s, dir) => Profiling.welchT(
        ev(s, dir).select(
          when(expr("((ts div 86400000000000) + 3) % 7") >= 5,
            "weekend").otherwise("weekday").as("dow_cohort"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        "dow_cohort", "cents", "weekday", "weekend"),
      Some("""WITH b AS (SELECT CASE WHEN
            ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5
            THEN 'weekend' ELSE 'weekday' END AS g,
          CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
        s AS (SELECT
          max(CASE WHEN g='weekday' THEN n END) AS n1,
          max(CASE WHEN g='weekday' THEN sx END) AS sx1,
          max(CASE WHEN g='weekday' THEN qx END) AS qx1,
          max(CASE WHEN g='weekend' THEN n END) AS n2,
          max(CASE WHEN g='weekend' THEN sx END) AS sx2,
          max(CASE WHEN g='weekend' THEN qx END) AS qx2
          FROM (SELECT g, count(*)::BIGINT AS n,
            sum(c)::BIGINT AS sx, sum(c*c)::BIGINT AS qx
            FROM b GROUP BY 1)),
        v AS (SELECT n1, n2, sx1, sx2,
          ((n1::DOUBLE * qx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE) /
            (n1::DOUBLE * (n1::DOUBLE - 1.0))) / n1::DOUBLE AS se1,
          ((n2::DOUBLE * qx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE) /
            (n2::DOUBLE * (n2::DOUBLE - 1.0))) / n2::DOUBLE AS se2
          FROM s)
        SELECT n1, n2,
          CAST((2 * sx1 * 10000 + n1) // (2 * n1) AS BIGINT)
            AS mean1_u,
          CAST((2 * sx2 * 10000 + n2) // (2 * n2) AS BIGINT)
            AS mean2_u,
          CASE WHEN n1 > 1 AND n2 > 1 THEN round(
            (sx1::DOUBLE / n1::DOUBLE - sx2::DOUBLE / n2::DOUBLE) /
            sqrt(se1 + se2), 4) END AS t_r,
          CASE WHEN n1 > 1 AND n2 > 1 THEN round(
            (se1 + se2) * (se1 + se2) /
            (se1 * se1 / (n1::DOUBLE - 1.0) +
             se2 * se2 / (n2::DOUBLE - 1.0)), 2) END AS df_r
        FROM v""".replaceAll("\\s+", " "))),

    // TPC-H Q18-style large-volume orders: aggregate lineitem per
    // order, HAVING over the aggregate, then enrich from orders —
    // the aggregate-then-semi-join shape (the filter reduces BEFORE
    // the join, so only qualifying keys shuffle into it).
    "q18_large_orders" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .filter(col("sum_qty") > 150)
        .join(t(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_custkey"), col("o_totalprice")), "l_orderkey")
        .select(col("l_orderkey").as("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("n_items"), col("sum_qty")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
        n_items, sum_qty
        FROM orders JOIN (SELECT l_orderkey,
          count(*)::BIGINT AS n_items,
          sum(l_quantity)::BIGINT AS sum_qty FROM lineitem
          GROUP BY 1 HAVING sum(l_quantity) > 150) li
        ON o_orderkey = li.l_orderkey""".replaceAll("\\s+", " "))),

    // Hill tail-index estimator over the top-100 order statistics of
    // price cents — "how heavy is the tail" (α ≈ 1 Zipf-like, large α
    // thin tail); the heavy-tail companion to stats_mad_outliers'
    // center-robust fences. The corpus reduces through ONE
    // TakeOrdered(101) — no global sort; the ln-sum runs on the
    // 101-row frame (α NULL if the whole top is one repeated value).
    "stats_hill_tail" -> QueryDef(
      (s, dir) => {
        val top = t(s, dir, "lineitem")
          .select(round(col("l_extendedprice") * 100, 0).cast("long")
            .as("c"))
          .orderBy(col("c").desc).limit(101)
        val thr = top.agg(min(col("c")).as("thr"))
        val ranked = top.crossJoin(broadcast(thr))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("c").desc)))
          .filter(col("rn") <= 100)
        ranked
          .agg(count(lit(1)).as("k"), max(col("thr")).as("thr"),
            sum(log(col("c").cast("double") /
              col("thr").cast("double"))).as("lnsum"))
          .select(col("k"), col("thr"),
            when(col("lnsum") > 0,
              round(col("k").cast("double") / col("lnsum"), 4))
              .as("alpha_r"))
      },
      Some("""WITH t AS (SELECT CAST(round(l_extendedprice * 100, 0)
            AS BIGINT) AS c
          FROM lineitem ORDER BY c DESC LIMIT 101),
        th AS (SELECT min(c) AS thr FROM t),
        nr AS (SELECT c, row_number() OVER (ORDER BY c DESC) AS rn
          FROM t),
        s AS (SELECT count(*)::BIGINT AS k, max(th.thr)::BIGINT AS thr,
            sum(ln(nr.c::DOUBLE / th.thr::DOUBLE)) AS lnsum
          FROM nr CROSS JOIN th WHERE nr.rn <= 100)
        SELECT k, thr, CASE WHEN lnsum > 0 THEN
          round(k::DOUBLE / lnsum, 4) END AS alpha_r
        FROM s""".replaceAll("\\s+", " "))),

    // higher-moment profile: population skewness and excess kurtosis
    // per group from ONE pass of exact Long raw moments (n, Σx..Σx⁴ —
    // quantity ≤ 50 keeps x⁴ tiny); central-moment combination in
    // fixed-order DOUBLE, rounded 6 (builtin skewness()/kurtosis()
    // differ in sample corrections across engines — the explicit
    // formula is the cross-engine-stable form).
    "stats_moments" -> QueryDef(
      (s, dir) => {
        val sums = t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("x"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
            sum(col("x") * col("x")).as("s2"),
            sum(col("x") * col("x") * col("x")).as("s3"),
            sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
        def d(c: String) = col(c).cast("double")
        val mu = d("s1") / d("n")
        val m2 = d("s2") / d("n") - mu * mu
        val m3 = d("s3") / d("n") - lit(3.0) * mu * (d("s2") / d("n")) +
          lit(2.0) * mu * mu * mu
        val m4 = d("s4") / d("n") - lit(4.0) * mu * (d("s3") / d("n")) +
          lit(6.0) * mu * mu * (d("s2") / d("n")) -
          lit(3.0) * mu * mu * mu * mu
        sums.select(col("l_returnflag"), col("n"),
          round(mu, 6).as("mean_r"), round(m2, 6).as("var_r"),
          when(m2 > 0, round(m3 / sqrt(m2 * m2 * m2), 6))
            .as("skew_r"),
          when(m2 > 0, round(m4 / (m2 * m2) - lit(3.0), 6))
            .as("kurt_r"))
      },
      Some("""WITH b AS (SELECT l_returnflag,
          CAST(l_quantity AS BIGINT) AS x FROM lineitem),
        s AS (SELECT l_returnflag, count(*)::BIGINT AS n,
          sum(x)::BIGINT AS s1, sum(x*x)::BIGINT AS s2,
          sum(x*x*x)::BIGINT AS s3, sum(x*x*x*x)::BIGINT AS s4
          FROM b GROUP BY 1),
        m AS (SELECT l_returnflag, n,
          s1::DOUBLE / n::DOUBLE AS mu,
          s2::DOUBLE / n::DOUBLE AS r2,
          s3::DOUBLE / n::DOUBLE AS r3,
          s4::DOUBLE / n::DOUBLE AS r4 FROM s),
        c AS (SELECT l_returnflag, n, mu,
          r2 - mu * mu AS m2,
          r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
          r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
            - 3.0 * mu * mu * mu * mu AS m4 FROM m)
        SELECT l_returnflag, n, round(mu, 6) AS mean_r,
          round(m2, 6) AS var_r,
          CASE WHEN m2 > 0 THEN round(m3 / sqrt(m2 * m2 * m2), 6)
            END AS skew_r,
          CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 6)
            END AS kurt_r
        FROM c""".replaceAll("\\s+", " "))),

    // market-basket pair rules over order baskets: co-occurrence
    // counts of DISTINCT part pairs within an order (a < b — each
    // unordered pair once), support-filtered, with confidence and
    // lift in fixed-order DOUBLE from exact counts. The pair
    // generator is per-basket — and the basket size is CAPPED at 64
    // items via capPerKey (deterministic salted-hash order, bounded
    // map-side heaps) before the within-basket self-join, so one
    // pathological hot basket can never go quadratic; TPC-H baskets
    // hold ≤ 7 items, so the cap never binds and the uncapped oracle
    // is unchanged. All counts (item support, order total) run on
    // the same capped frame, keeping confidence/lift internally
    // consistent when the cap does bind.
    "assoc_rules_pairs" -> QueryDef(
      (s, dir) => {
        val li = Curation.capPerKey(
            t(s, dir, "lineitem")
              .select(col("l_orderkey").as("o"),
                col("l_partkey").as("p"))
              .distinct(),
            idCol = "p", keyCol = "o", seed = "basket",
            maxPerKey = 64)
          .select(col("o"), col("p"))
        val nOrders = li.select(col("o")).distinct()
          .agg(count(lit(1)).as("n_orders"))
        val item = li.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
        val pairs = li.as("a")
          .join(li.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 3)
        pairs
          .join(item.select(col("p").as("pa"), col("n_p").as("n_a")),
            "pa")
          .join(item.select(col("p").as("pb"), col("n_p").as("n_b")),
            "pb")
          .crossJoin(broadcast(nOrders))
          .select(col("pa"), col("pb"), col("n_ab"), col("n_a"),
            col("n_b"),
            round(col("n_ab").cast("double") /
              col("n_a").cast("double"), 6).as("conf_r"),
            round(col("n_ab").cast("double") *
              col("n_orders").cast("double") /
              (col("n_a").cast("double") * col("n_b").cast("double")),
              6).as("lift_r"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS o,
          l_partkey AS p FROM lineitem),
        no AS (SELECT count(DISTINCT o)::BIGINT AS n_orders FROM li),
        it AS (SELECT p, count(*)::BIGINT AS n_p FROM li GROUP BY 1),
        pr AS (SELECT a.p AS pa, b.p AS pb, count(*)::BIGINT AS n_ab
          FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2 HAVING count(*) >= 3)
        SELECT pr.pa, pr.pb, pr.n_ab, ia.n_p AS n_a, ib.n_p AS n_b,
          round(pr.n_ab::DOUBLE / ia.n_p::DOUBLE, 6) AS conf_r,
          round(pr.n_ab::DOUBLE * no.n_orders::DOUBLE /
            (ia.n_p::DOUBLE * ib.n_p::DOUBLE), 6) AS lift_r
        FROM pr JOIN it ia ON pr.pa = ia.p
        JOIN it ib ON pr.pb = ib.p CROSS JOIN no"""
        .replaceAll("\\s+", " "))),

    // weighted (lower) median: the quantity at which half the
    // REVENUE sits, per return flag — exact integer pick on the
    // value-domain frame (2·cum ≥ total), no percentile buffers.
    "agg_weighted_median" -> QueryDef(
      (s, dir) => Profiling.weightedMedian(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100, 0).cast("long")
            .as("wc")),
        Seq("l_returnflag"), "qty", "wc"),
      Some("""WITH f AS (SELECT l_returnflag,
          CAST(l_quantity AS BIGINT) AS v,
          sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT
            AS wv
          FROM lineitem GROUP BY 1, 2),
        cu AS (SELECT l_returnflag, v, wv,
          sum(wv) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
          sum(wv) OVER (PARTITION BY l_returnflag) AS tot FROM f)
        SELECT l_returnflag, count(*)::BIGINT AS n_vals,
          max(tot)::BIGINT AS tot_w,
          min(CASE WHEN 2 * cum >= tot THEN v END)::BIGINT AS wmedian
        FROM cu GROUP BY 1""".replaceAll("\\s+", " "))),

    // Population Stability Index of purchase vs click values over the
    // click cohort's own exact decile bins — the binned drift metric
    // model monitoring alarms on (which-bin-moved attribution beside
    // stats_ks_test's single D). Add-one smoothed shares; per-bin
    // counts exact, the 10-term sum rounded 6.
    "stats_psi" -> QueryDef(
      (s, dir) => Profiling.psi(
        ev(s, dir).select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        "event_type", "cents", "click", "purchase"),
      Some("""WITH b AS (SELECT event_type AS g,
          CAST(round(value * 100, 0) AS BIGINT) AS v FROM events
          WHERE event_type IN ('click', 'purchase')),
        f AS (SELECT v, count(*)::BIGINT AS c FROM b
          WHERE g = 'click' GROUP BY 1),
        cu AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum,
          sum(c) OVER () AS n FROM f),
        ct AS (SELECT
          min(CASE WHEN cum >= (n * 1 + 9) // 10 THEN v END) AS c1,
          min(CASE WHEN cum >= (n * 2 + 9) // 10 THEN v END) AS c2,
          min(CASE WHEN cum >= (n * 3 + 9) // 10 THEN v END) AS c3,
          min(CASE WHEN cum >= (n * 4 + 9) // 10 THEN v END) AS c4,
          min(CASE WHEN cum >= (n * 5 + 9) // 10 THEN v END) AS c5,
          min(CASE WHEN cum >= (n * 6 + 9) // 10 THEN v END) AS c6,
          min(CASE WHEN cum >= (n * 7 + 9) // 10 THEN v END) AS c7,
          min(CASE WHEN cum >= (n * 8 + 9) // 10 THEN v END) AS c8,
          min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS c9
          FROM cu),
        bn AS (SELECT ((b.v > ct.c1)::INT + (b.v > ct.c2)::INT +
            (b.v > ct.c3)::INT + (b.v > ct.c4)::INT +
            (b.v > ct.c5)::INT + (b.v > ct.c6)::INT +
            (b.v > ct.c7)::INT + (b.v > ct.c8)::INT +
            (b.v > ct.c9)::INT)::BIGINT AS bin,
          sum(CASE WHEN b.g = 'click' THEN 1 ELSE 0 END)::BIGINT
            AS n_ref,
          sum(CASE WHEN b.g = 'purchase' THEN 1 ELSE 0 END)::BIGINT
            AS n_cmp
          FROM b CROSS JOIN ct GROUP BY 1),
        fl AS (SELECT g.bin, coalesce(bn.n_ref, 0)::BIGINT AS n_ref,
            coalesce(bn.n_cmp, 0)::BIGINT AS n_cmp
          FROM (SELECT unnest(generate_series(0, 9))::BIGINT AS bin) g
          LEFT JOIN bn USING (bin)),
        tt AS (SELECT (sum(n_ref) + 10)::BIGINT AS tr,
          (sum(n_cmp) + 10)::BIGINT AS tc FROM fl),
        tm AS (SELECT fl.bin, fl.n_ref, fl.n_cmp,
            (((fl.n_ref + 1)::DOUBLE / tt.tr::DOUBLE) -
             ((fl.n_cmp + 1)::DOUBLE / tt.tc::DOUBLE)) *
            ln(((fl.n_ref + 1)::DOUBLE / tt.tr::DOUBLE) /
               ((fl.n_cmp + 1)::DOUBLE / tt.tc::DOUBLE)) AS term
          FROM fl CROSS JOIN tt),
        ps AS (SELECT round(sum(term), 6) AS psi_r FROM tm)
        SELECT tm.bin, tm.n_ref, tm.n_cmp, ps.psi_r
        FROM tm CROSS JOIN ps""".replaceAll("\\s+", " "))),

    // one-way ANOVA F across ALL five event-type cohorts — "does any
    // mean differ" before pairwise t-tests (the multiple-comparison
    // discipline). Exact Long (n, Σx, Σx²) per cohort; SS/F combined
    // in fixed-order DOUBLE on the k-row cohort frame, rounded 2/4.
    "stats_anova" -> QueryDef(
      (s, dir) => Profiling.anovaF(
        ev(s, dir).select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        "event_type", "cents"),
      Some("""WITH b AS (SELECT event_type AS g,
          CAST(round(value * 100, 0) AS BIGINT) AS x FROM events),
        p AS (SELECT g, count(*)::BIGINT AS n_i, sum(x)::BIGINT AS s_i,
          sum(x*x)::BIGINT AS q_i FROM b GROUP BY 1),
        o AS (SELECT count(*)::BIGINT AS k, sum(n_i)::BIGINT AS n,
          sum(s_i)::BIGINT AS s, sum(q_i)::BIGINT AS q,
          sum(s_i::DOUBLE * s_i::DOUBLE / n_i::DOUBLE) AS sb FROM p)
        SELECT k, n,
          round(sb - s::DOUBLE * s::DOUBLE / n::DOUBLE, 2) AS ssb_r,
          round(q::DOUBLE - sb, 2) AS ssw_r,
          CASE WHEN k > 1 AND n > k AND (q::DOUBLE - sb) > 0 THEN
            round(((sb - s::DOUBLE * s::DOUBLE / n::DOUBLE) /
              (k::DOUBLE - 1.0)) /
              ((q::DOUBLE - sb) / (n::DOUBLE - k::DOUBLE)), 4)
          END AS f_r
        FROM o""".replaceAll("\\s+", " "))),

    // revenue concentration per market segment: floored-basis-point
    // shares per customer, HHI = Σ share_bp² — exact integers end to
    // end; share arithmetic runs on the customer-cardinality frame
    // with the per-segment totals broadcast.
    "stats_hhi" -> QueryDef(
      (s, dir) => Profiling.hhi(
        t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_custkey"),
            round(col("o_totalprice") * 100, 0).cast("long")
              .as("cents")),
        Seq("c_mktsegment"), "o_custkey", "cents"),
      Some("""WITH per AS (SELECT c_mktsegment, o_custkey,
          sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT
            AS rev
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2),
        t AS (SELECT c_mktsegment, sum(rev)::BIGINT AS tot_c,
          count(*)::BIGINT AS n_keys FROM per GROUP BY 1)
        SELECT per.c_mktsegment, t.n_keys, t.tot_c,
          max((per.rev * 10000) // t.tot_c)::BIGINT AS top_share_bp,
          sum(((per.rev * 10000) // t.tot_c) *
              ((per.rev * 10000) // t.tot_c))::BIGINT AS hhi_bp2
        FROM per JOIN t USING (c_mktsegment)
        GROUP BY 1, 2, 3""".replaceAll("\\s+", " "))),

    // Gini coefficient of customer revenue per market segment — the
    // whole-Lorenz-curve inequality measure beside stats_hhi's
    // top-weighted concentration. Rank terms fold into one pass over
    // the value-domain frequency frame (no per-customer ranking);
    // per-term products in fixed-order DOUBLE, G rounded 6.
    "stats_gini" -> QueryDef(
      (s, dir) => Profiling.gini(
        t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_custkey"),
            round(col("o_totalprice") * 100, 0).cast("long")
              .as("cents")),
        Seq("c_mktsegment"), "o_custkey", "cents"),
      Some("""WITH per AS (SELECT c_mktsegment, o_custkey,
          sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT
            AS rev
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2),
        f AS (SELECT c_mktsegment, rev, count(*)::BIGINT AS c
          FROM per GROUP BY 1, 2),
        cu AS (SELECT c_mktsegment, rev, c, sum(c) OVER
          (PARTITION BY c_mktsegment ORDER BY rev) AS cum FROM f),
        sm AS (SELECT c_mktsegment, sum(c)::BIGINT AS n_keys,
          sum(rev * c)::BIGINT AS tot_c,
          sum(rev::DOUBLE * c::DOUBLE *
            (2.0 * cum::DOUBLE - c::DOUBLE + 1.0)) AS s1x2
          FROM cu GROUP BY 1)
        SELECT c_mktsegment, n_keys, tot_c,
          CASE WHEN tot_c > 0 AND n_keys > 0 THEN
            round(s1x2 / (n_keys::DOUBLE * tot_c::DOUBLE) -
              (n_keys::DOUBLE + 1.0) / n_keys::DOUBLE, 6)
          END AS gini_r
        FROM sm""".replaceAll("\\s+", " "))),

    // exact Lorenz curve at customer-count deciles per segment — the
    // which-decile attribution behind stats_gini's single number
    // ("the bottom 50% of customers hold X bp of revenue"). Boundary
    // customers inside a tied value row are apportioned EXACTLY
    // (lorenz_c = cumrev − (cum − m)·v at the boundary row), so every
    // point is an exact Long; shares floored bp. Frames: value-domain
    // frequency × a 10-row decile grid.
    "stats_lorenz" -> QueryDef(
      (s, dir) => {
        val per = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("g"), col("o_custkey"),
            round(col("o_totalprice") * 100, 0).cast("long")
              .as("cents"))
          .groupBy(col("g"), col("o_custkey"))
          .agg(sum(col("cents")).as("rev"))
        val wOrd = Window.partitionBy(col("g")).orderBy(col("rev"))
        val wAll = Window.partitionBy(col("g"))
        val f = per.groupBy(col("g"), col("rev"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(wOrd))
          .withColumn("cumrev",
            sum(col("rev") * col("c")).over(wOrd))
          .withColumn("n", sum(col("c")).over(wAll))
          .withColumn("tot", sum(col("rev") * col("c")).over(wAll))
        val grid = f.select(col("g"), col("rev"), col("cum"),
            col("cumrev"), col("n"), col("tot"),
            explode(sequence(lit(1L), lit(10L))).as("k"))
          .withColumn("m", expr("(k * n + 9) div 10"))
          .filter(col("cum") >= col("m"))
        grid.groupBy(col("g"), col("k"))
          .agg(min(struct(col("cum"), col("rev"), col("cumrev"),
            col("m"), col("tot"))).as("b"))
          .select(col("g").as("c_mktsegment"), col("k"),
            col("b.m").as("m_cust"),
            (col("b.cumrev") - (col("b.cum") - col("b.m")) *
              col("b.rev")).as("lorenz_c"),
            expr("""((b.cumrev - (b.cum - b.m) * b.rev) * 10000)
              div b.tot""").as("share_bp"))
      },
      Some("""WITH per AS (SELECT c_mktsegment AS g, o_custkey,
          sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT
            AS rev
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2),
        f AS (SELECT g, rev, count(*)::BIGINT AS c FROM per
          GROUP BY 1, 2),
        cu AS (SELECT g, rev, c,
          sum(c) OVER (PARTITION BY g ORDER BY rev) AS cum,
          sum(rev * c) OVER (PARTITION BY g ORDER BY rev) AS cumrev,
          sum(c) OVER (PARTITION BY g) AS n,
          sum(rev * c) OVER (PARTITION BY g) AS tot FROM f),
        gr AS (SELECT cu.*, k.k, (k.k * cu.n + 9) // 10 AS m
          FROM cu CROSS JOIN
            (SELECT unnest(generate_series(1, 10))::BIGINT AS k) k
          WHERE cu.cum >= (k.k * cu.n + 9) // 10),
        bd AS (SELECT g, k, min(cum) AS bcum FROM gr GROUP BY 1, 2)
        SELECT gr.g AS c_mktsegment, gr.k, gr.m::BIGINT AS m_cust,
          (gr.cumrev - (gr.cum - gr.m) * gr.rev)::BIGINT AS lorenz_c,
          (((gr.cumrev - (gr.cum - gr.m) * gr.rev) * 10000)
            // gr.tot)::BIGINT AS share_bp
        FROM gr JOIN bd ON gr.g = bd.g AND gr.k = bd.k
          AND gr.cum = bd.bcum""".replaceAll("\\s+", " "))),

    // referential-integrity audit: orphaned foreign keys per FK edge
    // (the first data-quality gate of any warehouse ingest). Each edge
    // is a left-anti join on the key — one key shuffle, same cost
    // envelope as any join on that key; at 100 TB put a bloom
    // prefilter (join_bloom_prefilter's RuntimeFilters) in front of
    // the anti join to skip the clean majority without shuffling it.
    "stats_fk_orphans" -> QueryDef(
      (s, dir) => {
        def audit(name: String, child: DataFrame, fk: String,
            parent: DataFrame, pk: String): DataFrame = {
          val nChild = child.agg(count(lit(1)).as("n_child"))
          val nOrph = child
            .join(parent.select(col(pk).as(fk)), Seq(fk), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
          nChild.crossJoin(broadcast(nOrph))
            .select(lit(name).as("fk_edge"), col("n_child"),
              col("n_orphans"),
              expr("(n_orphans * 10000) div n_child").as("orphan_bp"))
        }
        audit("orders.o_custkey->customer",
          t(s, dir, "orders").select(col("o_custkey")), "o_custkey",
          t(s, dir, "customer"), "c_custkey")
          .unionAll(audit("lineitem.l_orderkey->orders",
            t(s, dir, "lineitem").select(col("l_orderkey")),
            "l_orderkey", t(s, dir, "orders"), "o_orderkey"))
      },
      Some("""SELECT 'orders.o_custkey->customer' AS fk_edge,
          (SELECT count(*) FROM orders)::BIGINT AS n_child,
          (SELECT count(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
          )::BIGINT AS n_orphans,
          ((SELECT count(*) FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
            * 10000 // (SELECT count(*) FROM orders))::BIGINT
            AS orphan_bp
        UNION ALL SELECT 'lineitem.l_orderkey->orders',
          (SELECT count(*) FROM lineitem)::BIGINT,
          (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
          )::BIGINT,
          ((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
            * 10000 // (SELECT count(*) FROM lineitem))::BIGINT"""
        .replaceAll("\\s+", " "))),

    // TPC-H Q14-style promo revenue share: one month of lineitem
    // joined to part (AQE broadcasts part while it fits). Revenue is
    // summed as EXACT cents·bp Longs (price cents × (10000 − disc bp),
    // ≤1e11/row — Long-safe past 10⁷ rows/month) so summation order
    // can never flip the 2-decimal rounding; the only IEEE ops are
    // the fixed-order final divisions of the two exact sums.
    "q14_promo_revenue" -> QueryDef(
      (s, dir) => {
        val cents = round(col("l_extendedprice") * 100, 0).cast("long")
        val rem = lit(10000L) -
          round(col("l_discount") * 10000, 0).cast("long")
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp")
            && col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
          .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("p_type") === "PROMO", cents * rem)
              .otherwise(lit(0L))).as("pcb"),
            sum(cents * rem).as("tcb"))
          .select(col("n"),
            round(col("pcb").cast("double") / lit(1000000.0), 2)
              .as("promo_rev_r"),
            round(col("tcb").cast("double") / lit(1000000.0), 2)
              .as("total_rev_r"),
            round(col("pcb").cast("double") * 100 /
              col("tcb").cast("double"), 4).as("promo_pct_r"))
      },
      Some("""WITH s AS (SELECT count(*)::BIGINT AS n,
          sum(CASE WHEN p_type = 'PROMO' THEN
            CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
            (10000 - CAST(round(l_discount * 10000, 0) AS BIGINT))
            ELSE 0 END) AS pcb,
          sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
            (10000 - CAST(round(l_discount * 10000, 0) AS BIGINT)))
            AS tcb
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-09-01'
            AND l_shipdate < TIMESTAMP '1996-10-01')
        SELECT n, round(pcb::DOUBLE / 1000000.0, 2) AS promo_rev_r,
          round(tcb::DOUBLE / 1000000.0, 2) AS total_rev_r,
          round(pcb::DOUBLE * 100 / tcb::DOUBLE, 4) AS promo_pct_r
        FROM s""".replaceAll("\\s+", " "))),

    // TPC-H Q7-style volume shipping: revenue flowing between two
    // nations by supplier-nation × customer-nation × ship year. Both
    // nation joins broadcast (25-row dim); the fact table is touched
    // once and revenue sums as exact cents·bp Longs (the
    // q14_promo_revenue convention) with one fixed-order division at
    // the end.
    "q7_volume_shipping" -> QueryDef(
      (s, dir) => {
        val rev = round(col("l_extendedprice") * 100, 0).cast("long") *
          (lit(10000L) - round(col("l_discount") * 10000, 0)
            .cast("long"))
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01")
            .cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(t(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation").select(
            col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("sn_key"))
          .join(broadcast(t(s, dir, "nation").select(
            col("n_nationkey").as("cn_key"),
            col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("cn_key"))
          .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" &&
              col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(count(lit(1)).as("n"), sum(rev).as("rcb"))
          // FORMULATION HISTORY (r13 bisection): r11 form — one
          // fixed-order ::DOUBLE division then round, driver-green in
          // r11; the r12 `(rcb+5000) div 10000 / 100.0` half-up
          // identity went driver-RED (uncast `//` quotient over a
          // decimal literal — was isolated in probe_q7_halfup,
          // retired r16 with the rest of the red probe battery).
          .select(col("supp_nation"), col("cust_nation"),
            col("l_year"), col("n"),
            round(col("rcb").cast("double") / lit(1000000.0), 2)
              .as("revenue_r"))
      },
      Some("""SELECT n1.n_name AS supp_nation,
          n2.n_name AS cust_nation,
          year(l_shipdate)::BIGINT AS l_year,
          count(*)::BIGINT AS n,
          round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
            (10000 - CAST(round(l_discount * 10000, 0) AS BIGINT)))
            ::DOUBLE / 1000000.0, 2) AS revenue_r
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
               (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3""".replaceAll("\\s+", " "))),

    // TPC-H Q8-style national market share: the target nation's slice
    // of AMERICA's ECONOMY-part import volume per order year. Dims
    // (nation/region/part/supplier) broadcast; the numerator and
    // denominator are both exact cents·bp Long sums, so the share is
    // ONE fixed-order IEEE division, rounded 6.
    "q8_market_share" -> QueryDef(
      (s, dir) => {
        val rev = round(col("l_extendedprice") * 100, 0).cast("long") *
          (lit(10000L) - round(col("l_discount") * 10000, 0)
            .cast("long"))
        t(s, dir, "lineitem")
          .join(t(s, dir, "part").filter(col("p_type") === "ECONOMY"),
            col("l_partkey") === col("p_partkey"))
          .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01")
              .cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation").select(
            col("n_nationkey").as("cn_key"),
            col("n_regionkey").as("cr_key"))),
            col("c_nationkey") === col("cn_key"))
          .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "AMERICA")
            .select(col("r_regionkey"))),
            col("cr_key") === col("r_regionkey"))
          .join(t(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation").select(
            col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("sn_key"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(sum(when(col("supp_nation") === "NATION_1", rev)
            .otherwise(lit(0L))).as("ncb"),
            sum(rev).as("dcb"))
          .select(col("o_year"),
            round(col("ncb").cast("double") /
              col("dcb").cast("double"), 6).as("mkt_share_r"))
      },
      Some("""WITH v AS (SELECT year(o_orderdate) AS o_year,
          CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
            (10000 - CAST(round(l_discount * 10000, 0) AS BIGINT))
            AS rev,
          n2.n_name AS supp_nation
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01')
        SELECT o_year::BIGINT AS o_year,
          round(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev
            ELSE 0 END)::DOUBLE / sum(rev)::DOUBLE, 6)
            AS mkt_share_r
        FROM v GROUP BY 1""".replaceAll("\\s+", " "))),

    "stats_equidepth_histogram" -> QueryDef(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val cuts = li.agg(expr(
          "percentile(l_quantity, array(0.25, 0.5, 0.75))").as("c"))
          .head().getSeq[Double](0)
        val bucket = cuts.foldLeft(lit(0)) { (acc, c) =>
          acc + when(col("l_quantity") > lit(c), 1).otherwise(0) }
        li.select(bucket.cast("long").as("bucket"), col("l_quantity"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("l_quantity")).as("min_q"),
            max(col("l_quantity")).as("max_q"))
      },
      Some("""WITH c AS (SELECT quantile_cont(l_quantity,
          [0.25, 0.5, 0.75]) AS q FROM lineitem)
        SELECT ((l_quantity > q[1])::INT + (l_quantity > q[2])::INT
          + (l_quantity > q[3])::INT)::BIGINT AS bucket,
        count(*)::BIGINT AS n, min(l_quantity) AS min_q,
        max(l_quantity) AS max_q
        FROM lineitem, c GROUP BY 1""".replaceAll("\\s+", " "))),

    // grouping sets via ROLLUP (NULL-marked subtotal rows).
    // the spark.sql SURFACE end to end: the same canonical events
    // frame registered as a temp view and queried through raw ANSI
    // SQL — a user of the library gets the full SQL entry point, not
    // just the DataFrame API (Catalog.registerViews does this for
    // whole storage roots; this pins the lane itself).
    "sql_surface" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "events")
          .createOrReplaceTempView("graft_events_v")
        s.sql("""SELECT event_type, count(*) AS n,
          sum(cast(round(value * 100, 0) as bigint)) AS sum_c,
          min(ts) AS min_ns, max(ts) AS max_ns
          FROM graft_events_v GROUP BY event_type""")
      },
      Some("""SELECT event_type, count(*)::BIGINT AS n,
          sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS sum_c,
          min(epoch_ns(ts))::BIGINT AS min_ns,
          max(epoch_ns(ts))::BIGINT AS max_ns
        FROM events GROUP BY 1""".replaceAll("\\s+", " "))),

    // beyond-Long EXACT aggregation: cents scaled ×10¹² so per-group
    // sums reach ~10²¹⁺ — past BIGINT range — and still hash-match:
    // Spark's Decimal(38,0) sum against DuckDB's HUGEINT, surfaced as
    // strings (the uint64/Decimal(20,0) line-protocol lane's
    // aggregate-side guarantee: money math never silently wraps or
    // rounds at any magnitude).
    "agg_uint64_sum" -> QueryDef(
      (s, dir) => ev(s, dir)
        .select(col("event_type"),
          (round(col("value") * 100, 0).cast("decimal(38,0)") *
            lit(1000000000000L)).as("big"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("big")).cast("decimal(38,0)").cast("string")
            .as("sum_s")),
      Some("""SELECT event_type, count(*)::BIGINT AS n,
          (sum(CAST(round(value * 100, 0) AS HUGEINT) *
            1000000000000))::VARCHAR AS sum_s
        FROM events GROUP BY 1""".replaceAll("\\s+", " "))),

    // exact per-group MODE with a DECLARED tie rule (max count, tie →
    // smallest value): one (group, value) frequency pass + a
    // struct-max argmax — no window, no sort, and the tie rule is
    // explicit in both engines instead of inherited from either's
    // mode() implementation detail.
    "agg_mode" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("l_returnflag"))
        .agg(max(struct(col("c"), (-col("q")).as("nq"))).as("m"))
        .select(col("l_returnflag"), (-col("m.nq")).as("mode_q"),
          col("m.c").as("n_mode")),
      Some("""WITH f AS (SELECT l_returnflag,
          CAST(l_quantity AS BIGINT) AS q, count(*)::BIGINT AS c
          FROM lineitem GROUP BY 1, 2),
        r AS (SELECT l_returnflag, q, c,
          row_number() OVER (PARTITION BY l_returnflag
            ORDER BY c DESC, q ASC) AS rn FROM f)
        SELECT l_returnflag, q AS mode_q, c AS n_mode FROM r
        WHERE rn = 1""".replaceAll("\\s+", " "))),

    "agg_rollup" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
        sum(l_quantity)::BIGINT AS sum_qty FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)"""
        .replaceAll("\\s+", " "))),

    // full CUBE (all 4 grouping combinations). grouping() flags
    // disambiguate a subtotal row's NULL from a data NULL — without
    // them a cube over a nullable key is unreadable.
    "agg_cube" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"),
          count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus,
        GROUPING(l_returnflag)::BIGINT AS g_rf,
        GROUPING(l_linestatus)::BIGINT AS g_ls,
        count(*)::BIGINT AS n,
        sum(l_quantity)::BIGINT AS sum_qty FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)"""
        .replaceAll("\\s+", " "))),

    // pivot (wide-format conditional aggregation): yearly order revenue
    // by status. Spark's pivot IS conditional aggregation after the
    // values are known — one shuffle, same plan shape as the oracle's
    // FILTER aggregates; the explicit value list keeps the 100 TB path
    // free of the extra distinct-scan pivot(col) alone would need.
    "agg_pivot" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          col("o_orderstatus"), col("o_totalprice"))
        .groupBy(col("yr"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2)),
      Some("""SELECT year(o_orderdate)::BIGINT AS yr,
        round(sum(o_totalprice) FILTER (o_orderstatus='F'),2) AS F,
        round(sum(o_totalprice) FILTER (o_orderstatus='O'),2) AS O,
        round(sum(o_totalprice) FILTER (o_orderstatus='P'),2) AS P
        FROM orders GROUP BY 1""".replaceAll("\\s+", " "))),

    // unpivot/melt (long-format projection of a wide aggregate) — the
    // inverse of agg_pivot; plans as a single generate over the
    // aggregate, no extra shuffle.
    "agg_unpivot" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).cast("long").cast("double")
          .as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")), "measure", "value"),
      Some("""WITH g AS (SELECT l_returnflag,
          sum(l_quantity)::BIGINT::DOUBLE AS sum_qty,
          round(sum(l_extendedprice),2) AS sum_price
        FROM lineitem GROUP BY 1)
        SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM g
        UNION ALL
        SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value
        FROM g""".replaceAll("\\s+", " "))),

    // EXISTS subquery (decorrelated to a semi-join by Catalyst):
    // customers with at least one high-value order.
    "subq_exists" -> QueryDef(
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("customer_v")
        t(s, dir, "orders").createOrReplaceTempView("orders_v")
        s.sql("""SELECT c_custkey, c_name FROM customer_v c
          WHERE EXISTS (SELECT 1 FROM orders_v o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)"""
        .replaceAll("\\s+", " "))),

    // correlated scalar subquery (TPC-H q17 shape): lineitems below 50%
    // of their part's average quantity. Catalyst decorrelates to an
    // aggregate + join; values are exact (avg of integral doubles,
    // rounded identically both sides).
    "subq_scalar_corr" -> QueryDef(
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""SELECT l_partkey, count(*) AS n_below FROM lineitem_v l1
          WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
            FROM lineitem_v l2 WHERE l2.l_partkey = l1.l_partkey)
          GROUP BY l_partkey""")
      },
      Some("""SELECT l_partkey, count(*)::BIGINT AS n_below
        FROM lineitem l1
        WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
          FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        GROUP BY l_partkey""".replaceAll("\\s+", " "))),

    // exact percentiles (continuous interpolation): Spark's percentile
    // and DuckDB's quantile_cont share the same definition, so values
    // hash-match bit-for-bit on integral-step data; rounded for safety
    // on the interpolated 0.9 step.
    "agg_percentiles" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("q50"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("q90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99")),
      Some("""SELECT l_returnflag,
        round(quantile_cont(l_quantity, 0.5),4) AS q50,
        round(quantile_cont(l_quantity, 0.9),4) AS q90,
        round(quantile_cont(l_extendedprice, 0.99),4) AS p99
        FROM lineitem GROUP BY l_returnflag""".replaceAll("\\s+", " "))),

    // approximate distinct (HLL) — implementation-specific values, so
    // rows-only check; exactness is covered by agg_stats.
    // HLL++ internals aren't oracle-able (no cross-engine sketch
    // parity), so the row is rows-only — but the ESTIMATE is bounded:
    // ApproxDistinctSpec pins relative error ≤ 5% (the default rsd)
    // against exact countDistinct at sf0.001 and sf0.01.
    // data-layout for scan pruning: range-partition lineitem by
    // l_shipdate and sort within partitions before writing, then read a
    // one-month window back. The sorted copy gives every parquet row
    // group a tight min/max l_shipdate envelope, so the time filter
    // skips whole row groups at the footer — the difference between
    // scanning one month and scanning 100 TB. The filter must ALSO
    // reach the scan as a pushed predicate (PlanSpec pins it). Oracle =
    // the same window on the original table: layout must never change
    // results, only I/O.
    "layout_sorted_scan" -> QueryDef(
      (s, dir) => {
        val dst = s"/tmp/graft_layout_rt_${math.abs(dir.hashCode)}"
        t(s, dir, "lineitem")
          .repartitionByRange(8, col("l_shipdate"))
          .sortWithinPartitions(col("l_shipdate"), col("l_orderkey"),
            col("l_linenumber"))
          .write.mode("overwrite").parquet(dst)
        s.read.parquet(dst)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_partkey"),
            col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
      },
      Some("""SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
        l_shipdate FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'"""
        .replaceAll("\\s+", " "))),

    // two-dimensional data layout: write events Z-ORDERED on
    // (user_id, hour) — Bucketing.mortonKey interleaves the two
    // dimensions so row-group min/max envelopes stay tight on EACH,
    // and a filter on user range AND time range skips row groups on
    // both at the parquet footer (the Delta/Iceberg OPTIMIZE ZORDER
    // trade as a plain column expression; the 2-D generalization of
    // layout_sorted_scan). Both predicates must reach the scan pushed
    // (PlanSpec pins it). Oracle = the same query on the original
    // table: layout must never change results, only I/O.
    "layout_zorder_scan" -> QueryDef(
      (s, dir) => {
        val dst = s"/tmp/graft_zorder_rt_${math.abs(dir.hashCode)}"
        val hourNs = 3600L * 1000000000L
        val e = ev(s, dir)
        e.drop("ts" + Tables.RawSuffix)
          .withColumn("_z", graft.operators.Bucketing.mortonKey(
            col("user_id"), expr(s"ts div $hourNs"), bits = 16))
          .repartitionByRange(8, col("_z"))
          .sortWithinPartitions(col("_z"))
          .drop("_z")
          .write.mode("overwrite").parquet(dst)
        s.read.parquet(dst)
          .filter(col("user_id").between(2L, 9L)
            && col("ts") >= lit(1704844800L * 1000000000L)
            && col("ts") < lit(1705708800L * 1000000000L))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(expr("cast(round(value * 100, 0) as bigint)"))
              .as("sum_c"))
      },
      Some("""SELECT event_type, count(*)::BIGINT AS n,
        sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS sum_c
        FROM events WHERE user_id BETWEEN 2 AND 9
        AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts < TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY 1""".replaceAll("\\s+", " "))),

    // DYNAMIC partition pruning: the fact written partitioned by day
    // directories, joined to a dim whose filter (is_hot, an attribute
    // the fact doesn't carry) only resolves at RUNTIME — Spark turns
    // the broadcast dim into a partition-pruning subquery so the scan
    // reads ~1/7 of the day directories instead of all of them
    // (PlanSpec pins the dynamicpruning filter). The static-pruning
    // cousin of layout_sorted_scan's row-group skipping: at 100 TB,
    // directory pruning is the difference between listing a week and
    // listing a decade. Oracle computes the identical join result
    // from the flat table.
    "layout_dpp_scan" -> QueryDef(
      (s, dir) => {
        val dst = s"/tmp/graft_dpp_rt_${math.abs(dir.hashCode)}"
        ev(s, dir)
          .withColumn("day", expr("ts div 86400000000000"))
          .write.mode("overwrite").partitionBy("day").parquet(dst)
        val fact = s.read.parquet(dst)
        val dim = s.range(20000)
          .select(col("id").as("day"),
            (col("id") % 7 === 3).as("is_hot"))
          .filter(col("is_hot"))
        fact.join(broadcast(dim), "day")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long"))
              .as("sum_c"))
      },
      Some("""SELECT event_type, count(*)::BIGINT AS n,
          sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS sum_c
        FROM events
        WHERE (epoch_us(ts) // 86400000000) % 7 = 3
        GROUP BY 1""".replaceAll("\\s+", " "))),

    // bucketed CO-LOCATED join: both fact sides written bucketBy the
    // join key (one shuffle paid at WRITE time), then the join plans
    // as a sort-merge with NO exchange under either side — the
    // layout trade that turns a recurring 100 TB fact-to-fact
    // shuffle into a one-time layout decision (PlanSpec pins the
    // exchange-free join). Oracle = the plain join on the original
    // parquet: layout must never change results, only I/O.
    "layout_bucketed_join" -> QueryDef(
      (s, dir) => {
        val base = s"/tmp/graft_bucket_rt_${math.abs(dir.hashCode)}"
        graft.operators.Bucketing.writeBucketed(
          t(s, dir, "lineitem").select(col("l_orderkey"),
            col("l_quantity"),
            round(col("l_extendedprice") * 100, 0).cast("long")
              .as("price_c")),
          "graft_li_bkt", s"$base/li", "l_orderkey", 8)
        graft.operators.Bucketing.writeBucketed(
          t(s, dir, "orders").select(
            col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
          "graft_ord_bkt", s"$base/ord", "l_orderkey", 8)
        graft.operators.Bucketing.bucketedJoin(s,
            "graft_li_bkt", "graft_ord_bkt", "l_orderkey")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            sum(col("price_c")).as("sum_c"))
      },
      Some("""SELECT o_orderstatus, count(*)::BIGINT AS n,
        sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty,
        sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT
          AS sum_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1""".replaceAll("\\s+", " "))),

    // SCD Type-2 history: the per-user event-type state collapsed
    // into validity intervals [valid_from, valid_to) with an
    // open-ended current run — "what was this entity's state at time
    // T", which latest-wins upserts throw away. Two key-partitioned
    // windows + one aggregate (Incremental.scd2); (key, ts) made
    // unique by the asofJoin pre-aggregation convention.
    "cdc_scd2_history" -> QueryDef(
      (s, dir) => Incremental.scd2(
        ev(s, dir).select(col("user_id"),
            expr("ts div 1000").as("t_us"), col("event_type"))
          .groupBy(col("user_id"), col("t_us"))
          .agg(max(col("event_type")).as("state")),
        "user_id", "t_us", "state"),
      Some("""WITH u AS (SELECT user_id, epoch_us(ts) AS t,
          max(event_type) AS v FROM events GROUP BY 1, 2),
        lg AS (SELECT user_id, t, v, lag(v) OVER
          (PARTITION BY user_id ORDER BY t) AS prev FROM u),
        rn AS (SELECT user_id, t, v,
          sum(CASE WHEN prev IS NULL OR prev <> v THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY t) AS run FROM lg),
        rs AS (SELECT user_id, run, v, min(t) AS valid_from FROM rn
          GROUP BY 1, 2, 3)
        SELECT user_id, v AS state, valid_from::BIGINT AS valid_from,
          (lead(valid_from) OVER (PARTITION BY user_id
            ORDER BY valid_from))::BIGINT AS valid_to,
          (lead(valid_from) OVER (PARTITION BY user_id
            ORDER BY valid_from)) IS NULL AS is_current
        FROM rs""".replaceAll("\\s+", " "))),

    // CDC changelog GENERATION: diff two keyed snapshots into I/U/D
    // rows — the cdc_apply_changelog inverse (apply(diff(old, new))
    // over old reproduces new; InvariantSpec pins the round-trip).
    // New snapshot = orders with deterministic planted mutations
    // (k%97=0 deleted, k%89=1 status-mutated, k%83=2 re-keyed as
    // inserts), so all three ops are exercised non-vacuously. One
    // full-outer equi-join on the key, null-safe comparison,
    // unchanged keys filtered before materializing.
    "cdc_snapshot_diff" -> QueryDef(
      (s, dir) => {
        val base = t(s, dir, "orders").select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          round(col("o_totalprice") * 100, 0).cast("long").as("pc"))
        val newSnap = base.filter(col("k") % 97 =!= 0)
          .withColumn("st", when(col("k") % 89 === 1, lit("X"))
            .otherwise(col("st")))
          .unionByName(base.filter(col("k") % 83 === 2)
            .select((col("k") + 1000000000L).as("k"), col("st"),
              col("pc")))
        Incremental.snapshotDiff(base, newSnap, "k", Seq("st", "pc"))
      },
      Some("""WITH base AS (SELECT o_orderkey AS k,
          o_orderstatus AS st,
          CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc
          FROM orders),
        n AS (SELECT k,
            CASE WHEN k % 89 = 1 THEN 'X' ELSE st END AS st, pc
          FROM base WHERE k % 97 != 0
          UNION ALL SELECT k + 1000000000, st, pc FROM base
          WHERE k % 83 = 2),
        j AS (SELECT coalesce(base.k, n.k) AS k,
          CASE WHEN base.k IS NULL THEN 'I'
            WHEN n.k IS NULL THEN 'D'
            WHEN base.st IS DISTINCT FROM n.st
              OR base.pc IS DISTINCT FROM n.pc THEN 'U' END AS op,
          base.st AS old_st, n.st AS new_st,
          base.pc AS old_pc, n.pc AS new_pc
          FROM base FULL JOIN n ON base.k = n.k)
        SELECT k, op, old_st, new_st, old_pc, new_pc FROM j
        WHERE op IS NOT NULL""".replaceAll("\\s+", " "))),

    // CDC changelog application: latest op per key wins, a trailing
    // delete removes the key — the I/U/D merge a latest-wins upsert
    // cannot express. One struct-max argmax (partial/final hash agg,
    // no window); the (t, op, value) tie rule is DECLARED (D > U > I
    // at the same instant) rather than inherited from arrival order.
    "cdc_apply_changelog" -> QueryDef(
      (s, dir) => Incremental.applyChangelog(
        ev(s, dir).select(col("user_id"),
          expr("ts div 1000").as("t_us"),
          when(col("event_type") === "error", "D")
            .when(col("event_type") === "signup", "I")
            .otherwise("U").as("op"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        "user_id", "t_us", "op", "cents"),
      Some("""WITH lg AS (SELECT user_id, epoch_us(ts) AS t,
          CASE WHEN event_type = 'error' THEN 'D'
            WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
          CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        w AS (SELECT user_id, t, op, v, row_number() OVER
          (PARTITION BY user_id ORDER BY t DESC,
            (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC,
            v DESC)
          AS rn FROM lg)
        SELECT user_id, v AS cents, t::BIGINT AS t_us FROM w
        WHERE rn = 1 AND op <> 'D'""".replaceAll("\\s+", " "))),

    // incremental aggregate maintenance: the per-type stats view kept
    // current by MERGING the new window's partial (n, Σ, min, max)
    // into the stored partial of everything before it — merging
    // summary rows, never rescanning history (operators.Incremental;
    // the 100 TB daily-rollup pattern). Oracle = the from-scratch
    // aggregation: maintenance must be invisible in the result.
    "inc_agg_merge" -> QueryDef(
      (s, dir) => {
        val cutNs = 1705363200L * 1000000000L // 2024-01-16 UTC
        val e = ev(s, dir).select(col("event_type"), col("ts"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        val base = Incremental.partialStats(
          e.filter(col("ts") < cutNs), Seq("event_type"), "cents")
        val delta = Incremental.partialStats(
          e.filter(col("ts") >= cutNs), Seq("event_type"), "cents")
        Incremental.mergePartialStats(base.unionByName(delta),
          Seq("event_type"))
      },
      Some("""SELECT event_type, count(*)::BIGINT AS n,
        sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS sum_c,
        min(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS min_c,
        max(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS max_c,
        CAST((2 * sum(CAST(round(value * 100, 0) AS BIGINT)) * 10000
          + count(*)) // (2 * count(*)) AS BIGINT) AS mean_u
        FROM events GROUP BY 1""".replaceAll("\\s+", " "))),

    // approximate percentiles (Greenwald-Khanna sketch) — the 100 TB
    // twin of agg_percentiles: exact `percentile` buffers EVERY value of
    // a group in one reducer (3 groups ⇒ 3 reducers hold the whole
    // column at scale), while the GK sketch is a bounded-size mergeable
    // summary aggregated partial→final like any hash agg. Sketch merge
    // order isn't canonical across engines (no DuckDB parity), so the
    // row is rows-only; PercentileApproxSpec pins the rank error vs the
    // exact form instead (≤ accuracy bound 1/acc = 0.1%).
    "agg_percentiles_approx" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_quantity, 0.5, 1000)").as("q50"),
          expr("approx_percentile(l_quantity, 0.9, 1000)").as("q90"),
          expr("approx_percentile(l_extendedprice, 0.99, 1000)").as("p99")),
      None),

    "agg_approx_distinct" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts")),
      None),

    // scalar string functions.
    "scalar_string" -> QueryDef(
      (s, dir) => t(s, dir, "part").select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("pfx"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        expr("replace(p_type, ' ', '_')").as("type_u")),
      Some("""SELECT p_partkey, upper(substr(p_name,1,8)) AS pfx,
        length(p_name)::BIGINT AS name_len,
        p_brand||':'||p_type AS brand_type,
        replace(p_type,' ','_') AS type_u FROM part"""
        .replaceAll("\\s+", " "))),

    // scalar math functions (single-op-per-row: bit-deterministic).
    "scalar_math" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        abs(col("l_quantity") - 25).as("absq"),
        floor(col("l_extendedprice")).cast("long").as("fl"),
        ceil(col("l_extendedprice")).cast("long").as("ce"),
        (col("l_orderkey") % 7).as("m7"),
        round(col("l_discount") * 100).as("d100")),
      Some("""SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        abs(l_quantity-25) AS absq, floor(l_extendedprice)::BIGINT AS fl,
        ceil(l_extendedprice)::BIGINT AS ce, l_orderkey % 7 AS m7,
        round(l_discount*100) AS d100 FROM lineitem"""
        .replaceAll("\\s+", " "))))
}
