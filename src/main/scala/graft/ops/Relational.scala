package graft.ops

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Batch relational query library — the reference's relational surface
  * (SURVEY.md §2.2 R1-R13) plus the engine-added standard analytics
  * (§2.3), expressed as declarative DataFrame programs so Catalyst plans
  * pushdown / pruning / join strategy / partial aggregation for free.
  *
  * Scale stance (100 TB): every query here either (a) aggregates with
  * map-side partials before its single shuffle, (b) joins a small
  * dimension with an explicit `broadcast` hint (no shuffle of the fact
  * side), or (c) ranks inside `Window.partitionBy(key)` so work stays
  * key-local. No collects, no cross joins, no driver loops.
  *
  * Float determinism: money-like aggregates go through exact
  * DECIMAL(18,2) sums and only then cast to double, so Spark's partial
  * aggregation order and DuckDB's cannot produce differing low bits.
  */
object Relational {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Exact, order-insensitive sum of a 2-decimal double column. */
  private def moneySum(c: Column): Column = sum(dec2(c)).cast("double")

  val queries: Seq[QueryDef] = Seq(

    // R1 (reference daq-3i.py:131 `WHERE enabled = TRUE`): filtered scan
    // with a pruned projection; predicate + projection reach the parquet
    // scan (PushedFilters / ReadSchema).
    QueryDef(
      "r1_filter_scan",
      (s, d) => {
        import s.implicits._
        table(s, d, "orders")
          .filter($"o_orderstatus" === "O" && $"o_totalprice" > 100000.0)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
              FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 100000.0
              ORDER BY o_orderkey""")),

    // R2+R3 (daq-3i.py:145,153): FK navigation as a broadcast equi-join —
    // the ORM's N+1 nested point lookups become ONE broadcast hash join
    // with zero shuffle of the fact side.
    QueryDef(
      "r3_fk_join",
      (s, d) => {
        import s.implicits._
        val cust = table(s, d, "customer")
        val nat = table(s, d, "nation")
        cust.join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"), "left")
          .select($"c_custkey", $"c_name", $"n_name")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name, n_name
              FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
              ORDER BY c_custkey""")),

    // R5 (daq-3i.py:198 per-channel COUNT): set-oriented form — one
    // hash aggregation over all keys instead of one query per key.
    QueryDef(
      "r5_count_per_key",
      (s, d) => {
        import s.implicits._
        table(s, d, "events")
          .groupBy($"user_id").agg(count(lit(1)).as("n_samples"))
          .orderBy($"user_id")
      },
      Some("SELECT user_id, count(*) AS n_samples FROM events GROUP BY user_id ORDER BY user_id")),

    // R7 (daq-3i.py:209 ORDER BY id ASC LIMIT n): global bottom-K by
    // unique key -> Spark plans TakeOrderedAndProject (no full sort).
    QueryDef(
      "r7_bottomk",
      (s, d) => {
        import s.implicits._
        table(s, d, "events")
          .select($"event_id", $"user_id", $"ts")
          .orderBy($"event_id".asc)
          .limit(100)
      },
      Some("SELECT event_id, user_id, ts FROM events ORDER BY event_id ASC LIMIT 100")),

    // D5 (bus.py:32-36 single-slot latest value): latest-per-key as a
    // window rank — the engine idiom replacing the dirty-flag buffer.
    QueryDef(
      "d5_latest_per_key",
      (s, d) => {
        import s.implicits._
        Maintenance.retainNewest(
            table(s, d, "events"), Seq($"user_id"), Seq($"ts", $"event_id"), 1)
          .select($"user_id", $"event_id", $"ts", $"value")
          .orderBy($"user_id")
      },
      Some("""SELECT user_id, event_id, ts, value FROM (
                SELECT user_id, event_id, ts, value,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) t
              WHERE rn = 1 ORDER BY user_id""")),

    // D9 (daq-3i.py:173-216 retention): "keep newest history_len per
    // channel" as a single window-rank filter — the set-based form the
    // reference's own TODO (daq-3i.py:176-178) wished for.
    QueryDef(
      "d9_retention",
      (s, d) => {
        import s.implicits._
        // the ONE retention implementation (Maintenance.retainNewest),
        // oracle-checked here — a local window copy could drift from
        // what compactFact actually runs
        Maintenance.retainNewest(
            table(s, d, "events"), Seq($"user_id"), Seq($"ts", $"event_id"), 5)
          .select($"user_id", $"event_id", $"ts")
          .orderBy($"user_id", $"event_id")
      },
      Some("""SELECT user_id, event_id, ts FROM (
                SELECT user_id, event_id, ts,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) t
              WHERE rn <= 5 ORDER BY user_id, event_id""")),

    // D7 (daq_status.py:36-68 upsert): last-writer-wins per key over an
    // append log == max_by(struct) per key; batch equivalent of the
    // foreachBatch MERGE sink in graft.streaming.
    QueryDef(
      "d7_status_upsert",
      (s, d) => {
        import s.implicits._
        Maintenance.retainNewest(
            table(s, d, "events"), Seq($"event_type"), Seq($"ts", $"event_id"), 1)
          .select($"event_type".as("parameter"), $"value".as("status"), $"ts")
          .orderBy($"parameter")
      },
      Some("""SELECT event_type AS parameter, value AS status, ts FROM (
                SELECT event_type, value, ts,
                       row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) t
              WHERE rn = 1 ORDER BY parameter""")),

    // TPC-H Q1 shape: the canonical scan -> hash-agg with map-side
    // partials; exact decimal sums for oracle bit-parity.
    QueryDef(
      "q1_agg",
      (s, d) => {
        import s.implicits._
        table(s, d, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            moneySum($"l_quantity").as("sum_qty"),
            moneySum($"l_extendedprice").as("sum_base_price"),
            sum(dec2($"l_extendedprice") * dec2(lit(1.0) - $"l_discount")).cast("double").as("sum_disc_price"),
            (sum(dec2($"l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                     COUNT(*) AS count_order
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    // TPC-H Q3 shape: selective dim filter -> join -> agg -> top-K.
    // customer is broadcast (small side); lineitem never shuffles for
    // the customer join, only for the orderkey aggregation.
    QueryDef(
      "q3_topk_revenue",
      (s, d) => {
        import s.implicits._
        val cust = table(s, d, "customer").filter($"c_mktsegment" === "BUILDING")
        val ord = table(s, d, "orders")
        val li = table(s, d, "lineitem")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
          .groupBy($"l_orderkey")
          .agg(sum(dec2($"l_extendedprice") * dec2(lit(1.0) - $"l_discount")).cast("double").as("revenue"))
          .orderBy($"revenue".desc, $"l_orderkey".asc)
          .limit(10)
      },
      Some("""SELECT l_orderkey,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
              GROUP BY l_orderkey
              ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""")),

    // Broadcast dim join + agg by dim attribute (pricing summary by
    // brand) — fact side stays un-shuffled until the brand aggregation.
    QueryDef(
      "q_brand_agg",
      (s, d) => {
        import s.implicits._
        val li = table(s, d, "lineitem")
        val part = table(s, d, "part")
        li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
          .groupBy($"p_brand")
          .agg(
            count(lit(1)).as("n_items"),
            moneySum($"l_extendedprice").as("total_price"),
            min($"l_quantity").as("min_qty"),
            max($"l_quantity").as("max_qty"))
          .orderBy($"p_brand")
      },
      Some("""SELECT p_brand, COUNT(*) AS n_items,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
                     MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY p_brand ORDER BY p_brand""")),

    // Left-semi: customers having at least one urgent order (EXISTS).
    QueryDef(
      "q_semi_join",
      (s, d) => {
        import s.implicits._
        val cust = table(s, d, "customer")
        val urgent = table(s, d, "orders").filter($"o_orderpriority" === "1-URGENT")
        cust.join(urgent, cust("c_custkey") === urgent("o_custkey"), "left_semi")
          .select($"c_custkey", $"c_name")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
              ORDER BY c_custkey""")),

    // Left-anti: customers with no high-value order (NOT EXISTS).
    QueryDef(
      "q_anti_join",
      (s, d) => {
        import s.implicits._
        val cust = table(s, d, "customer")
        val big = table(s, d, "orders").filter($"o_totalprice" > 250000.0)
        cust.join(big, cust("c_custkey") === big("o_custkey"), "left_anti")
          .select($"c_custkey", $"c_name", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey AND o_totalprice > 250000.0)
              ORDER BY c_custkey""")),

    // Exact distinct aggregation (engine-added per SURVEY §2.3).
    QueryDef(
      "q_distinct_agg",
      (s, d) => {
        import s.implicits._
        table(s, d, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            countDistinct($"l_partkey").as("n_parts"),
            countDistinct($"l_suppkey").as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
                     COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ROLLUP over two attributes (engine-added grouping sets).
    QueryDef(
      "q_rollup",
      (s, d) => {
        import s.implicits._
        table(s, d, "orders")
          .rollup($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"), moneySum($"o_totalprice").as("total"))
          .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
              FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
              ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    // Analytic window functions: per-user ordered deltas (lag) and
    // running count — sample-delta analysis over the event stream.
    QueryDef(
      "q_window_lag",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
        table(s, d, "events")
          .withColumn("prev_value", lag($"value", 1).over(w))
          .withColumn("delta", $"value" - lag($"value", 1).over(w))
          .withColumn("seq", row_number().over(w))
          .filter($"seq" <= 20)
          .select($"user_id", $"seq", $"event_id", $"value", $"prev_value", $"delta")
          .orderBy($"user_id", $"seq")
      },
      Some("""SELECT user_id, seq, event_id, value, prev_value, delta FROM (
                SELECT user_id, event_id, value,
                       lag(value, 1) OVER w AS prev_value,
                       value - lag(value, 1) OVER w AS delta,
                       row_number() OVER w AS seq
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) t
              WHERE seq <= 20 ORDER BY user_id, seq""")),

    // Time-based RANGE window frame: per-customer rolling 30-day order
    // count + revenue — the value-range frame the row-frame queries
    // don't exercise. Ordered by epoch seconds so the frame bound is
    // numeric and bit-identical in both engines (order timestamps are
    // whole seconds); peers (same customer, same instant) aggregate
    // together under RANGE in both.
    QueryDef(
      "q_rolling_range",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate".cast("timestamp").cast("long"))
          .rangeBetween(-2592000L, 0L) // 30 days of seconds
        table(s, d, "orders")
          .withColumn("rolling_n", count(lit(1)).over(w))
          .withColumn("rolling_total", sum(dec2($"o_totalprice")).over(w).cast("double"))
          .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"rolling_n", $"rolling_total")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
                     count(*) OVER w AS rolling_n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_total
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                           RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
              ORDER BY o_orderkey""")),

    // Per-group top-K via window rank (engine idiom for R7-at-scale).
    QueryDef(
      "q_group_topk",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        table(s, d, "orders")
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .select($"o_custkey", $"rk", $"o_orderkey", $"o_totalprice")
          .orderBy($"o_custkey", $"rk")
      },
      Some("""SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                FROM orders) t
              WHERE rk <= 3 ORDER BY o_custkey, rk""")),

    // Set operations: union / intersect / except of key sets.
    QueryDef(
      "q_set_ops",
      (s, d) => {
        import s.implicits._
        val ord = table(s, d, "orders")
        val urgent = ord.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
        val big = ord.filter($"o_totalprice" > 150000.0).select($"o_custkey")
        val both = urgent.intersect(big).withColumn("tag", lit("both"))
        val urgentOnly = urgent.except(big).withColumn("tag", lit("urgent_only"))
        both.union(urgentOnly)
          .select($"tag", $"o_custkey")
          .orderBy($"tag", $"o_custkey")
      },
      Some("""WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
                   big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
              SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM big) a
              UNION ALL
              SELECT 'urgent_only' AS tag, o_custkey FROM (SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM big) b
              ORDER BY tag, o_custkey""")),

    // Scalar function surface: string formatting (reference
    // daq-3i.py:284 "CHL: %d"), date_trunc / extract (bus.py:46 date
    // arithmetic), math round/abs.
    QueryDef(
      "q_scalar_funcs",
      (s, d) => {
        import s.implicits._
        table(s, d, "orders")
          .filter($"o_orderkey" <= 500)
          .select(
            $"o_orderkey",
            format_string("CHL: %d", $"o_custkey").as("status_key"),
            date_trunc("month", $"o_orderdate").as("order_month"),
            year($"o_orderdate").cast("long").as("order_year"),
            round($"o_totalprice", 0).as("price_rounded"),
            abs($"o_totalprice" - 100000.0).as("price_dist"),
            upper($"o_orderpriority").as("prio_upper"),
            substring($"o_orderpriority", 1, 1).cast("int").as("prio_rank"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
                     printf('CHL: %d', o_custkey) AS status_key,
                     date_trunc('month', o_orderdate) AS order_month,
                     CAST(year(o_orderdate) AS BIGINT) AS order_year,
                     round(o_totalprice, 0) AS price_rounded,
                     abs(o_totalprice - 100000.0) AS price_dist,
                     upper(o_orderpriority) AS prio_upper,
                     CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_rank
              FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""")),

    // JSON extraction over events.props (engine-added; SURVEY §2.3
    // scalar functions row). The parse goes through an explode(array(_))
    // barrier: a filter on a plain projected alias gets pushed below the
    // project with the whole get_json_object tree substituted into it,
    // parsing the JSON once per row in the filter AND once per surviving
    // row in the project (verified in codegen: two eval sites). Filters
    // cannot push below a Generate's output, so this shape parses
    // exactly once per row; PlanSpec gates the single occurrence.
    QueryDef(
      "q_json_extract",
      (s, d) => {
        import s.implicits._
        table(s, d, "events")
          .select($"event_id",
            explode(array(get_json_object($"props", "$.k").cast("long"))).as("k"))
          .filter($"k" > 90)
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
              ORDER BY event_id"""))
  )
}
