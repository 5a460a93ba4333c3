package graft.ops

import graft.QueryDef
import graft.model.Tables.table
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The remainder of the SURVEY §2.3 engine inventory: as-of join,
  * range join, cube/grouping sets, approximate distinct, the poll-due
  * predicate (D2 in batch form), a TPC-H Q5-shape multi-join, a
  * decorrelated "correlated subquery", and the wider string-function
  * surface.
  */
object AdvancedRelational {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Merge-scan as-of join: for each left row, the latest right row
    * strictly earlier in (ts, id) order within the same key. Instead
    * of a join, tag + union + one window pass — a single shuffle on
    * the key, no skew amplification, no nested-loop: the plan of
    * choice at 100 TB (SURVEY.md §2.3 joins row; the alternative
    * custom-SparkPlan route is strictly worse here because built-ins
    * already express it — spark_guide.md preference (a)). */
  def asofLatestBefore(
      tagged: org.apache.spark.sql.DataFrame,
      key: Column, ts: Column, id: Column,
      isRight: Column, rightPayload: Column): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts.asc, id.asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    tagged.withColumn("__asof",
      last(when(isRight, rightPayload), ignoreNulls = true).over(w))
  }

  val queries: Seq[QueryDef] = Seq(

    // As-of join: each error event picks up the latest strictly-earlier
    // purchase of the same user (the reference's "latest sample
    // at-or-before t per channel" generalized).
    QueryDef(
      "q_asof_join",
      (s, d) => {
        import s.implicits._
        val e = table(s, d, "events")
          .filter($"event_type".isin("error", "purchase"))
        val out = asofLatestBefore(e,
          $"user_id", $"ts", $"event_id",
          $"event_type" === "purchase",
          struct($"event_id".as("pid"), $"value".as("pval")))
        out.filter($"event_type" === "error")
          .select($"user_id", $"event_id", $"ts",
            $"__asof.pid".as("purchase_event_id"),
            $"__asof.pval".as("purchase_value"))
          .orderBy($"event_id")
      },
      Some("""WITH t AS (
                SELECT user_id, event_id, ts, event_type, value,
                       last_value(CASE WHEN event_type = 'purchase'
                                       THEN struct_pack(pid := event_id, pval := value)
                                  END IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof
                FROM events WHERE event_type IN ('error', 'purchase'))
              SELECT user_id, event_id, ts,
                     t.asof.pid AS purchase_event_id,
                     t.asof.pval AS purchase_value
              FROM t WHERE event_type = 'error' ORDER BY event_id""")),

    // Range join: events against 10 campaign windows (3 days each).
    // The window dim is tiny -> broadcast nested-loop is the right
    // physical plan here; at scale the same query runs banded (explode
    // to day keys) exactly like dd_ngram_jaccard's blocking.
    QueryDef(
      "q_range_join",
      (s, d) => {
        import s.implicits._
        val base = lit("2024-01-01 00:00:00").cast("timestamp_ntz")
        val campaigns = s.range(10).select(
          $"id".as("campaign_id"),
          (base + make_dt_interval($"id" * 3)).as("w_start"),
          (base + make_dt_interval($"id" * 3 + 3)).as("w_end"))
        val e = table(s, d, "events")
        e.join(broadcast(campaigns),
            e("ts") >= campaigns("w_start") && e("ts") < campaigns("w_end"))
          .groupBy($"campaign_id")
          .agg(count(lit(1)).as("n"),
            sum(dec2($"value")).cast("double").as("total_value"))
          .orderBy($"campaign_id")
      },
      Some("""WITH campaigns AS (
                SELECT i AS campaign_id,
                       TIMESTAMP '2024-01-01 00:00:00' + i * 3 * INTERVAL '1 day' AS w_start,
                       TIMESTAMP '2024-01-01 00:00:00' + (i * 3 + 3) * INTERVAL '1 day' AS w_end
                FROM generate_series(0, 9) t(i))
              SELECT campaign_id, count(*) AS n,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
              FROM events JOIN campaigns ON ts >= w_start AND ts < w_end
              GROUP BY campaign_id ORDER BY campaign_id""")),

    // CUBE with grouping() markers (rollup's sibling; SURVEY §2.3
    // aggregation row).
    QueryDef(
      "q_cube",
      (s, d) => {
        import s.implicits._
        table(s, d, "lineitem")
          .cube($"l_returnflag", $"l_linestatus")
          .agg(
            grouping($"l_returnflag").cast("int").as("g_rf"),
            grouping($"l_linestatus").cast("int").as("g_ls"),
            count(lit(1)).as("n"),
            sum(dec2($"l_quantity")).cast("double").as("sum_qty"))
          .orderBy($"g_rf", $"g_ls",
            $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus,
                     CAST(grouping(l_returnflag) AS INT) AS g_rf,
                     CAST(grouping(l_linestatus) AS INT) AS g_ls,
                     count(*) AS n,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // Approximate distinct (HLL++). Sketch VALUES differ across engines
    // by construction, so the oracle checks the estimator's CONTRACT
    // instead: the exact count plus a within-10%-of-exact flag that
    // DuckDB asserts as literal true. A Spark HLL regression beyond
    // tolerance flips the flag and fails the hash compare (the default
    // rsd is 0.05, so 10% is a 2-sigma bound); AdvancedRelationalSpec
    // additionally bounds the raw estimate.
    //
    // The two aggregates run as SEPARATE plans joined on the tiny
    // group key, never one mixed agg: mixing a distinct aggregate
    // with a non-distinct one makes Spark plan the Expand-based
    // rewrite, whose partial aggregate keys on (group, l_partkey) —
    // the HLL side then builds ONE SKETCH PER DISTINCT KEY and merges
    // millions of sketches through the shuffle instead of one per
    // group. Measured at 100x (60M rows, local[32]): mixed plan
    // 28.0 s vs 1.8 s (HLL alone) + 5.2 s (exact alone) — the split
    // form is ~4x faster and turns the worst aggregate-family scale
    // ratio (90x) into its family's band. Separately, each plan is
    // the shape that survives 100 TB: one column-pruned scan + one
    // per-group sketch, one distinct-rewrite two-phase agg.
    QueryDef(
      "q_approx_distinct",
      (s, d) => {
        import s.implicits._
        val li = table(s, d, "lineitem")
        val hll = li.groupBy($"l_returnflag")
          .agg(approx_count_distinct($"l_partkey").as("approx_parts"))
        val exact = li.groupBy($"l_returnflag")
          .agg(countDistinct($"l_partkey").as("exact_parts"))
        exact.join(hll, Seq("l_returnflag"))
          .select($"l_returnflag", $"exact_parts",
            (abs($"approx_parts" - $"exact_parts") <=
              $"exact_parts" * lit(0.1)).as("within_tol"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
                     CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
                     true AS within_tol
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // D2's poll-due predicate in batch form (bus.py:46): per user,
    // elapsed-since-previous > per-user timing.
    QueryDef(
      "q_poll_due",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
        table(s, d, "events")
          .withColumn("prev_ts", lag($"ts", 1).over(w))
          .withColumn("elapsed_s",
            unix_timestamp($"ts".cast("timestamp")) - unix_timestamp($"prev_ts".cast("timestamp")))
          .withColumn("timing_s", (pmod($"user_id", lit(5L)) + lit(1L)) * lit(60L))
          .filter($"prev_ts".isNull || $"elapsed_s" > $"timing_s")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_due"))
          .orderBy($"user_id")
      },
      Some("""WITH t AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
                FROM events)
              SELECT user_id, count(*) AS n_due
              FROM t
              WHERE prev_ts IS NULL
                 OR date_diff('second', prev_ts, ts) > (user_id % 5 + 1) * 60
              GROUP BY user_id ORDER BY user_id""")),

    // TPC-H Q5 shape: five-table join, revenue per nation for one
    // region. Tiny dims broadcast; customer/orders/lineitem resolve by
    // Catalyst + AQE (shuffled hash at scale).
    QueryDef(
      "q5_multi_join",
      (s, d) => {
        import s.implicits._
        val region = table(s, d, "region").filter($"r_name" === "ASIA")
        val nation = table(s, d, "nation")
        val cust = table(s, d, "customer")
        val ord = table(s, d, "orders")
        val li = table(s, d, "lineitem")
        val supp = table(s, d, "supplier")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .join(cust, ord("o_custkey") === cust("c_custkey"))
          .join(supp, li("l_suppkey") === supp("s_suppkey") &&
            cust("c_nationkey") === supp("s_nationkey"))
          .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
          .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
          .groupBy($"n_name")
          .agg(sum(dec2($"l_extendedprice") * dec2(lit(1.0) - $"l_discount"))
            .cast("double").as("revenue"))
          .orderBy($"revenue".desc, $"n_name")
      },
      Some("""SELECT n_name,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
              GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // "Correlated subquery" (each customer's orders within 10% of
    // their own max), decorrelated to one window pass — how the
    // engine rewrites per-key re-aggregation (SURVEY §4: the ORM's
    // N+1 pattern).
    QueryDef(
      "q_correlated",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
        table(s, d, "orders")
          .withColumn("max_price", max($"o_totalprice").over(w))
          .filter($"o_totalprice" >= $"max_price" * 0.9)
          .select($"o_custkey", $"o_orderkey", $"o_totalprice")
          .orderBy($"o_custkey", $"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice
              FROM orders o1
              WHERE o_totalprice >= 0.9 * (SELECT max(o_totalprice) FROM orders o2
                                           WHERE o2.o_custkey = o1.o_custkey)
              ORDER BY o_custkey, o_orderkey""")),

    // Wider string-function surface (SURVEY §2.3 scalar row).
    QueryDef(
      "q_string_funcs",
      (s, d) => {
        import s.implicits._
        table(s, d, "customer")
          .filter($"c_name".like("%1%"))
          .select(
            $"c_custkey",
            upper($"c_name").as("up"),
            lower($"c_mktsegment").as("lo"),
            trim(lpad($"c_name", 20, "_")).as("padded"),
            regexp_replace($"c_name", "[0-9]+", "#").as("masked"),
            instr($"c_name", "1").cast("long").as("pos1"),
            concat_ws("|", $"c_name", $"c_mktsegment").as("joined"),
            reverse($"c_name").as("rev"),
            char_length($"c_name").cast("long").as("len"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey,
                     upper(c_name) AS up,
                     lower(c_mktsegment) AS lo,
                     trim(lpad(c_name, 20, '_'), ' ') AS padded,
                     regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
                     CAST(strpos(c_name, '1') AS BIGINT) AS pos1,
                     concat_ws('|', c_name, c_mktsegment) AS joined,
                     reverse(c_name) AS rev,
                     CAST(length(c_name) AS BIGINT) AS len
              FROM customer WHERE c_name LIKE '%1%'
              ORDER BY c_custkey"""))
  )
}
