package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.load

/** Batch relational surface — SURVEY.md §2.3-§2.8 ✔t2 queries.
  * All pure `functions._` Column algebra: whole-stage codegen, pushdown
  * and pruning come free from Catalyst.
  */
object Relational {

  def queries: Seq[Q] = Seq(
    // ---- A1/A2: integrity probes -------------------------------------
    Q("agg_max_id",
      (s, d) => load(s, d, "orders")
        .agg(max(col("o_orderkey")).as("max_id"),
             count(lit(1)).as("cnt")),
      Some("SELECT max(o_orderkey) AS max_id, count(*) AS cnt FROM orders"),
      "A1/A2: MAX(id) + COUNT(*) integrity probes (cdc_data_integrity_dynamic_dag.py:50)"),

    // ---- A3: last-offset per group ----------------------------------
    Q("agg_group_max",
      (s, d) => load(s, d, "events")
        .groupBy(col("event_type"))
        .agg(max(col("event_id")).as("last_offset"),
             count(lit(1)).as("n")),
      Some("SELECT event_type, max(event_id) AS last_offset, count(*) AS n " +
           "FROM events GROUP BY event_type"),
      "A3: end-offset per topic analog (kafka_latency_monitor.py:60-61)"),

    // ---- TPC-H Q1 shape: multi-aggregate scan ------------------------
    Q("agg_pricing_summary",
      (s, d) => load(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 1).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |sum(l_quantity) AS sum_qty,
             |round(sum(l_extendedprice), 1) AS sum_base_price,
             |round(sum(l_extendedprice * (1 - l_discount)), 1) AS sum_disc_price,
             |round(avg(l_quantity), 4) AS avg_qty,
             |round(avg(l_discount), 4) AS avg_disc,
             |count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin),
      "multi-agg scan, map-side partial agg"),

    // ---- distinct aggregation ---------------------------------------
    Q("agg_distinct",
      (s, d) => load(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
             count(lit(1)).as("n_events")),
      Some("SELECT event_type, count(DISTINCT user_id) AS n_users, " +
           "count(*) AS n_events FROM events GROUP BY event_type"),
      "count(distinct) — expand+two-phase agg in Catalyst"),

    // ---- rollup / cube ----------------------------------------------
    Q("agg_rollup",
      (s, d) => load(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
             count(lit(1)).as("n")),
      Some("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
           "count(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),
      "grouping-sets engine surface (SURVEY §2.3 extension)"),

    // Arbitrary GROUPING SETS (not just the rollup/cube lattices) with
    // grouping_id disambiguating real NULL group values from subtotal
    // rows — one Expand pass, no scan per set.
    Q("agg_grouping_sets",
      (s, d) => {
        load(s, d, "orders").createOrReplaceTempView("orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                |  count(*) AS n, sum(o_totalprice) AS sum_price
                |FROM orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
          .stripMargin)
          .selectExpr("o_orderstatus", "o_orderpriority", "gid", "n",
            "round(sum_price, 1) AS sum_price_r")
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             |  count(*) AS n, round(sum(o_totalprice), 1) AS sum_price_r
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),
      "arbitrary GROUPING SETS + grouping_id (beyond rollup/cube lattices)"),

    // RANGE frame (value-based, not row-count): trailing 30-day revenue
    // per customer. RANGE includes ALL peers of the current order value,
    // so the result is deterministic under ties (where a ROWS frame
    // would depend on tie order); the frame bound is epoch days.
    Q("window_range_frame",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey")).orderBy(col("day"))
          .rangeBetween(-30, 0)
        load(s, d, "orders").filter(col("o_custkey") < 200)
          .withColumn("day", datediff(col("o_orderdate"), lit("1970-01-01")))
          .select(col("o_orderkey"), col("o_custkey"),
            // cents-as-long per row (bitwise-identical double multiply,
            // then EXACT integer summation in any order) — immune to
            // the half-ulp rounding boundary a double sum can hit.
            // round BEFORE the cast: 82425.90*100 = 8242589.999…, and
            // Spark's long cast truncates where DuckDB's rounds
            sum(round(col("o_totalprice") * 100, 0).cast("long")).over(w)
              .as("rev_30d_cents"))
      },
      // outer CAST: DuckDB's windowed sum(BIGINT) yields HUGEINT; Spark's
      // yields BIGINT — the driver hashes dtypes, so pin the oracle's type
      Some("""SELECT o_orderkey, o_custkey,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_custkey
             |    ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
             |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS rev_30d_cents
             |FROM orders WHERE o_custkey < 200""".stripMargin),
      "value-based RANGE window frame: trailing 30-day revenue per customer"),

    // count(DISTINCT) over a window is unsupported in both engines —
    // the standard max-of-dense_rank formulation computes it with two
    // window passes over one sort order.
    Q("window_distinct_count",
      (s, d) => {
        val byKey = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
        val byKeyPrio = byKey.orderBy(col("o_orderpriority"))
        load(s, d, "orders").filter(col("o_custkey") < 100)
          .select(col("o_orderkey"), col("o_custkey"),
            max(dense_rank().over(byKeyPrio)).over(byKey)
              .cast("long").as("n_distinct_prio"))
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  CAST(max(dr) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_distinct_prio
             |FROM (SELECT o_orderkey, o_custkey,
             |        dense_rank() OVER (PARTITION BY o_custkey
             |          ORDER BY o_orderpriority) AS dr
             |      FROM orders WHERE o_custkey < 100)""".stripMargin),
      "windowed distinct count via the max-of-dense_rank formulation"),

    Q("agg_cube",
      (s, d) => load(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             max(col("o_orderkey")).as("max_key")),
      Some("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
           "max(o_orderkey) AS max_key FROM orders " +
           "GROUP BY CUBE(o_orderstatus, o_orderpriority)"),
      "cube"),

    // ---- A6/A7: boolean reductions ----------------------------------
    Q("agg_bool_all_any",
      (s, d) => load(s, d, "events")
        .groupBy(col("user_id"))
        .agg(bool_and(col("event_type") =!= "error").as("healthy"),
             bool_or(col("value") > 180).as("has_critical")),
      Some("SELECT user_id, bool_and(event_type <> 'error') AS healthy, " +
           "bool_or(value > 180) AS has_critical FROM events GROUP BY user_id"),
      "A6 all-RUNNING / A7 any-failure reductions (cdc_health_check_dynamic_dag.py:44-47)"),

    // ---- A5: latest-per-key (the upsert dedup kernel) ----------------
    Q("agg_latest_per_key",
      (s, d) => {
        val e = load(s, d, "events")
          .select("user_id", "event_type", "value", "ts", "event_id")
        graft.plans.LatestPerKey(e, Seq("user_id"), Seq("ts", "event_id"))
          .select(col("user_id"),
            col("event_type").as("last_type"),
            col("value").as("last_value"))
      },
      Some("""SELECT user_id, event_type AS last_type, value AS last_value
             |FROM events
             |QUALIFY row_number() OVER
             |  (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin),
      "A5 last-write-wins per key via the LatestPerKey kernel — one " +
        "shuffle, one sort, first row per key"),

    // ---- J1-style: full-outer reconciliation join --------------------
    Q("join_full_outer_reconcile",
      (s, d) => {
        val src = load(s, d, "orders").groupBy(col("o_orderpriority").as("table_name"))
          .agg(max(col("o_orderkey")).as("source_max"))
        val dst = load(s, d, "orders").filter(col("o_orderkey") % 100 =!= 0)
          .groupBy(col("o_orderpriority").as("table_name"))
          .agg(max(col("o_orderkey")).as("dest_max"))
        src.join(dst, Seq("table_name"), "full_outer")
          .select(col("table_name"),
            coalesce(col("source_max"), lit(0L)).as("source_max"),
            coalesce(col("dest_max"), lit(0L)).as("dest_max"))
          .withColumn("mismatch", col("source_max") =!= col("dest_max"))
      },
      Some("""SELECT table_name,
             |  coalesce(source_max, 0) AS source_max,
             |  coalesce(dest_max, 0) AS dest_max,
             |  coalesce(source_max, 0) <> coalesce(dest_max, 0) AS mismatch
             |FROM (SELECT o_orderpriority AS table_name, max(o_orderkey) AS source_max
             |      FROM orders GROUP BY 1) src
             |FULL OUTER JOIN (SELECT o_orderpriority AS table_name, max(o_orderkey) AS dest_max
             |      FROM orders WHERE o_orderkey % 100 <> 0 GROUP BY 1) dst
             |USING (table_name)""".stripMargin),
      "J1 source-vs-sink MAX(id) reconciliation (cdc_data_integrity_dynamic_dag.py:48-60)"),

    // ---- J4: fact-dim equi-join chain --------------------------------
    Q("join_revenue_by_segment",
      (s, d) => {
        val li = load(s, d, "lineitem")
        val o = load(s, d, "orders")
        val c = load(s, d, "customer")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1).as("revenue"),
               count(lit(1)).as("n_items"))
      },
      Some("""SELECT c_mktsegment,
             |round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue,
             |count(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment""".stripMargin),
      "J4 enrichment join — broadcast dim, shuffle fact join"),

    // TPC-H Q3 shape (shipping priority): selective filters on all
    // three tables push into the scans, the small filtered customer
    // side broadcasts, revenue aggregates per order, and the top-10 is
    // TakeOrderedAndProject (never a global sort). Unique order:
    // (revenue desc, l_orderkey).
    Q("join_shipping_priority",
      (s, d) => {
        val cut = lit("1995-03-15").cast("timestamp")
        val li = load(s, d, "lineitem").filter(col("l_shipdate") > cut)
        val o = load(s, d, "orders").filter(col("o_orderdate") < cut)
        val c = load(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |  round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1995-03-15'
             |  AND l_shipdate > TIMESTAMP '1995-03-15'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
      "TPC-H Q3 shape: filtered 3-way join, per-order revenue, top-10"),

    // ---- snowflake joins over the supplier/part dimensions ----------
    Q("join_supplier_region_rollup",
      (s, d) => {
        val li = load(s, d, "lineitem")
        val su = load(s, d, "supplier")
        val n = load(s, d, "nation")
        val r = load(s, d, "region")
        li.join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1).as("revenue"),
               count(lit(1)).as("n_items"))
      },
      Some("""SELECT r_name, n_name,
             |round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue,
             |count(*) AS n_items
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name""".stripMargin),
      "snowflake chain fact→supplier→nation→region, all dims broadcast (TPC-H Q5 shape)"),

    Q("join_part_brand_margin",
      (s, d) => {
        val li = load(s, d, "lineitem")
        val p = load(s, d, "part")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 1).as("revenue"),
               round(avg(col("p_retailprice")), 4).as("avg_retail"),
               count(lit(1)).as("n_items"))
      },
      Some("""SELECT p_brand,
             |round(sum(l_extendedprice * (1 - l_discount)), 1) AS revenue,
             |round(avg(p_retailprice), 4) AS avg_retail,
             |count(*) AS n_items
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand""".stripMargin),
      "fact→part broadcast join + brand margin rollup"),

    // ---- semi / anti joins ------------------------------------------
    Q("join_semi",
      (s, d) => {
        val c = load(s, d, "customer")
        val o = load(s, d, "orders").filter(col("o_totalprice") > 150000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_big_spenders"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_big_spenders FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > 150000)
             |GROUP BY c_mktsegment""".stripMargin),
      "left-semi = EXISTS"),

    Q("join_anti",
      (s, d) => {
        val o = load(s, d, "orders")
        val li = load(s, d, "lineitem")
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
          .select(col("o_orderkey"), col("o_orderstatus"))
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin),
      "left-anti = NOT EXISTS (the exact-key generalization of J1)"),

    // ---- window functions -------------------------------------------
    Q("window_topn_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        load(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |CAST(row_number() OVER (PARTITION BY o_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
             |FROM orders
             |QUALIFY rn <= 2""".stripMargin),
      "row_number top-N per key (A5 window form)"),

    Q("window_lag_delta",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        load(s, d, "events")
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .select(col("event_id"), col("user_id"),
            (col("value") - col("prev_value")).as("delta"))
      },
      Some("""SELECT event_id, user_id,
             |value - lag(value, 1) OVER
             |  (PARTITION BY user_id ORDER BY ts, event_id) AS delta
             |FROM events""".stripMargin),
      "lag/lead — offset-trend monitoring (kafka_latency_monitor.py:70 evolution)"),

    Q("window_running_total",
      (s, d) => {
        // NOTE: (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // data — the order must include the value columns to be total, or
        // tied prefixes are engine-dependent (remaining full-duplicate
        // rows are order-invariant for a running sum).
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        load(s, d, "lineitem")
          .withColumn("running_qty", sum(col("l_quantity")).over(w))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("running_qty"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_suppkey,
             |sum(l_quantity) OVER (PARTITION BY l_suppkey
             |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
             |FROM lineitem""".stripMargin),
      "running total (integer-valued doubles: exact in any order)"),

    Q("window_rank_dense",
      (s, d) => {
        val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc, col("c_custkey"))
        load(s, d, "customer")
          .withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .filter(col("rnk") <= 5)
          .select(col("c_mktsegment"), col("c_custkey"), col("rnk"), col("drnk"))
      },
      Some("""SELECT c_mktsegment, c_custkey,
             |CAST(rank() OVER w AS INTEGER) AS rnk,
             |CAST(dense_rank() OVER w AS INTEGER) AS drnk
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
             |QUALIFY rnk <= 5""".stripMargin),
      "rank/dense_rank"),

    // Distribution window family (ntile/percent_rank/cume_dist): the
    // unique (o_totalprice, o_orderkey) ordering makes every rank —
    // and so every derived distribution value — deterministic;
    // percent_rank and cume_dist divide exact small ints, bitwise-equal
    // across engines.
    Q("window_distribution",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        load(s, d, "orders")
          .filter(col("o_orderkey") < 3000)
          .select(col("o_orderpriority"), col("o_orderkey"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"))
      },
      Some("""SELECT o_orderpriority, o_orderkey,
             |CAST(ntile(4) OVER w AS INTEGER) AS quartile,
             |percent_rank() OVER w AS pct_rank,
             |cume_dist() OVER w AS cume
             |FROM orders
             |WHERE o_orderkey < 3000
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY o_totalprice, o_orderkey)""".stripMargin),
      "ntile/percent_rank/cume_dist distribution windows over a unique " +
        "total order"),

    // ---- sort / limit / top-k ---------------------------------------
    Q("topk_orders",
      (s, d) => load(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(15)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("SELECT o_orderkey, o_totalprice FROM orders " +
           "ORDER BY o_totalprice DESC, o_orderkey LIMIT 15"),
      "O3 TakeOrderedAndProject — per-partition top-k then merge, no full sort"),

    // ---- set operations ---------------------------------------------
    Q("setop_except",
      (s, d) => load(s, d, "orders").select(col("o_orderkey").as("okey"))
        .except(load(s, d, "lineitem").select(col("l_orderkey").as("okey"))),
      Some("SELECT o_orderkey AS okey FROM orders EXCEPT SELECT l_orderkey FROM lineitem"),
      "set-difference integrity form (SURVEY §2.7): orders with no lineitems"),

    Q("setop_intersect",
      (s, d) => load(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("ckey"))
        .intersect(load(s, d, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("ckey"))),
      Some("SELECT o_custkey AS ckey FROM orders WHERE o_orderstatus = 'F' " +
           "INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'"),
      "intersect"),

    Q("setop_union",
      (s, d) => load(s, d, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("ckey"))
        .union(load(s, d, "customer").filter(col("c_acctbal") > 9000)
          .select(col("c_custkey").as("ckey")))
        .distinct(),
      Some("SELECT o_custkey AS ckey FROM orders WHERE o_totalprice > 300000 " +
           "UNION SELECT c_custkey FROM customer WHERE c_acctbal > 9000"),
      "union-distinct (merges per-table streams, inverse of P2 routing)"),

    // ---- scalar functions: F1 regex ----------------------------------
    Q("scalar_regex_route",
      (s, d) => load(s, d, "documents")
        .select(concat(lit("mysql-server.pos_bi_db."), col("source")).as("topic"))
        .select(col("topic"),
          regexp_extract(col("topic"), "mysql-server\\.pos_bi_db\\.(.*)", 1).as("table_name"))
        .distinct(),
      Some("""SELECT DISTINCT 'mysql-server.pos_bi_db.' || source AS topic,
             |regexp_extract('mysql-server.pos_bi_db.' || source,
             |  'mysql-server\.pos_bi_db\.(.*)', 1) AS table_name
             |FROM documents""".stripMargin),
      "F1/P2 RegexRouter (register-postgres-sink.json:25-27)"),

    // ---- F2 string construction --------------------------------------
    Q("scalar_string_funcs",
      (s, d) => load(s, d, "nation")
        .select(col("n_nationkey"),
          upper(col("n_name")).as("uname"),
          length(col("n_name")).as("name_len"),
          concat_ws("-", col("n_name"), col("n_nationkey").cast("string")).as("tag"),
          substring(col("n_name"), 1, 3).as("prefix")),
      Some("""SELECT n_nationkey, upper(n_name) AS uname,
             |CAST(length(n_name) AS INTEGER) AS name_len,
             |concat_ws('-', n_name, CAST(n_nationkey AS VARCHAR)) AS tag,
             |substring(n_name, 1, 3) AS prefix FROM nation""".stripMargin),
      "F2 concat/format (kafka_latency_dynamic_monitor.py:49 topic templating)"),

    // ---- F3 JSON navigation ------------------------------------------
    Q("scalar_json_extract",
      (s, d) => load(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k")),
      Some("""SELECT event_id,
             |CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
             |FROM events""".stripMargin),
      "F3 JSON parse/navigate (cdc_health_check_dag.py:20-23); oracle uses the regex form"),

    // Spark 4 VariantType: parse the JSON ONCE into the binary variant
    // encoding, then field access is a cheap typed probe — at 100 TB the
    // scale-correct replacement for re-parsing a JSON string per
    // get_json_object call. The oracle only sees the extracted values
    // (the variant encoding itself is engine-internal).
    Q("scalar_variant",
      (s, d) => load(s, d, "events")
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(col("event_id"),
          try_variant_get(col("v"), "$.k", "int").as("k"),
          (try_variant_get(col("v"), "$.k", "int") % 10).as("k_mod"),
          try_variant_get(col("v"), "$.missing", "int").as("absent")),
      Some("""SELECT event_id,
             |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k,
             |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 10 AS k_mod,
             |  CAST(NULL AS INTEGER) AS absent
             |FROM events""".stripMargin),
      "Spark 4 VariantType: parse once, typed variant_get probes (missing path -> null)"),

    Q("scalar_json_agg",
      (s, d) => load(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), max(col("k")).as("max_k")),
      Some("""SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 10 AS k_mod,
             |count(*) AS n,
             |max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER)) AS max_k
             |FROM events GROUP BY 1""".stripMargin),
      "JSON field → group-agg"),

    // ---- F4/F5 conditionals, null handling ---------------------------
    Q("scalar_case_coalesce",
      (s, d) => load(s, d, "lineitem")
        .select(
          when(col("l_discount") > 0.05, lit("high"))
            .when(col("l_discount") > 0.02, lit("mid"))
            .otherwise(lit("low")).as("disc_band"),
          col("l_quantity"))
        .groupBy(col("disc_band"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")),
      Some("""SELECT CASE WHEN l_discount > 0.05 THEN 'high'
             |  WHEN l_discount > 0.02 THEN 'mid' ELSE 'low' END AS disc_band,
             |sum(l_quantity) AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY 1""".stripMargin),
      "F4/F5 when/otherwise banding (kafka_latency_monitor.py:72-74 null→0 pattern)"),

    // ---- per-row arithmetic, unrounded (bitwise-deterministic) -------
    Q("scalar_arith_charge",
      (s, d) => load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .as("charge")),
      Some("SELECT l_orderkey, l_linenumber, " +
           "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge FROM lineitem"),
      "F4 arithmetic — unrounded; same IEEE op sequence in both engines"),

    // ---- F6 date/time -------------------------------------------------
    Q("scalar_date_parts",
      (s, d) => load(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 1).as("monthly_total")),
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
             |CAST(month(o_orderdate) AS INTEGER) AS m,
             |count(*) AS n_orders, round(sum(o_totalprice), 1) AS monthly_total
             |FROM orders GROUP BY 1, 2""".stripMargin),
      "F6 date/time parts (cron-cadence analog)"),

    Q("scalar_time_window",
      (s, d) => load(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("v")),
      Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
             |count(*) AS n, round(sum(value), 2) AS v
             |FROM events GROUP BY 1, 2""".stripMargin),
      "ST5 tumbling window over event time (batch-checkable form)"),

    // ---- F7 arrays -----------------------------------------------------
    Q("scalar_array_ops",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(col("doc_id"),
          size(col("words")).as("n_words"),
          element_at(col("words"), 1).as("first_word"),
          forall(col("words"), w => length(w) > 0).as("all_nonempty")),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
             |string_split(text, ' ')[1] AS first_word,
             |len(list_filter(string_split(text, ' '), w -> length(w) > 0))
             |  = len(string_split(text, ' ')) AS all_nonempty
             |FROM documents""".stripMargin),
      "F7 array ops: split/size/element_at/forall (tasks[] iteration analog)"),

    // Business-day arithmetic — the SLA calendar every ops report
    // needs ("shipped within 5 business days?"), computed CLOSED-FORM
    // with no calendar table: f(d) = business days in [Mon 1970-01-05,
    // d) = 5·(k div 7) + least(k mod 7, 5) with k = days since that
    // Monday, so bdays in [d1, d2) = f(d2) − f(d1) — pure per-row
    // integer arithmetic, no join, no generator, identical in both
    // engines (day-of-week numbering differences are sidestepped by
    // deriving dow = k mod 7 directly: 0=Mon .. 6=Sun). First ship
    // date per order is one keyed rollup; the final frame is a
    // per-order map. Weekend-started orders and the business-vs-
    // calendar gap are both live everywhere (dates span 1992-1998).
    Q("scalar_business_days",
      (s, d) => {
        def k(c: org.apache.spark.sql.Column) =
          datediff(c, lit("1970-01-05"))
        val firstShip = load(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(min(col("l_shipdate")).as("first_ship"))
        def bdaysTo(c: org.apache.spark.sql.Column) = {
          val kk = datediff(c, lit("1970-01-05"))
          lit(5) * (kk / 7).cast("int").cast("long") +
            least(kk % 7, lit(5)).cast("long")
        }
        load(s, d, "orders")
          .join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey"),
            (k(col("o_orderdate")) % 7).as("order_dow"),
            datediff(col("first_ship"), col("o_orderdate"))
              .as("calendar_days"),
            (bdaysTo(col("first_ship")) - bdaysTo(col("o_orderdate")))
              .as("business_days"),
            (k(col("o_orderdate")) % 7 >= 5).as("ordered_on_weekend"),
            (bdaysTo(col("first_ship")) - bdaysTo(col("o_orderdate")) <= 5)
              .as("within_5_bdays"))
      },
      Some("""WITH fs AS (
             |  SELECT l_orderkey, min(l_shipdate) AS first_ship
             |  FROM lineitem GROUP BY 1),
             |j AS (
             |  SELECT o_orderkey, o_orderdate, first_ship,
             |    datediff('day', DATE '1970-01-05', o_orderdate) AS k1,
             |    datediff('day', DATE '1970-01-05', first_ship) AS k2
             |  FROM orders JOIN fs ON o_orderkey = l_orderkey)
             |SELECT o_orderkey,
             |  CAST(k1 % 7 AS INTEGER) AS order_dow,
             |  CAST(datediff('day', o_orderdate, first_ship) AS INTEGER)
             |    AS calendar_days,
             |  CAST((5 * (k2 // 7) + least(k2 % 7, 5))
             |    - (5 * (k1 // 7) + least(k1 % 7, 5)) AS BIGINT)
             |    AS business_days,
             |  k1 % 7 >= 5 AS ordered_on_weekend,
             |  (5 * (k2 // 7) + least(k2 % 7, 5))
             |    - (5 * (k1 // 7) + least(k1 % 7, 5)) <= 5 AS within_5_bdays
             |FROM j""".stripMargin),
      "closed-form business-day arithmetic (no calendar table): " +
        "epoch-Monday anchored f(d), per-row integer math — the SLA " +
        "calendar for shipped-within-N-business-days reporting"))
}
