package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational breadth: scan/filter/project, hash & broadcast joins,
  * partial+final aggregation, semi/anti joins, windows, rollup, set ops.
  *
  * These re-express the reference's join/agg surface (SURVEY.md §2.3-§2.6 —
  * J3-J10 equi joins, A7 count-per-group+top-k, A1 first-occurrence dedup,
  * §2.6 unions) on the TPC-H-ish fixtures so every shape has a
  * DuckDB oracle.
  *
  * Determinism contract: money/discount columns are 2-decimal-quantized
  * doubles, so float aggregates can land exactly on round() boundaries
  * where two engines' summation orders disagree. All aggregates here are
  * therefore computed on exact integer cents (`round(x*100)::long` per
  * row — safe: each raw value is within 1e-9 of its decimal lattice
  * point), making every output bit-identical regardless of partitioning
  * or aggregation order. Raw (non-aggregated) doubles pass through
  * unmodified — same bits in both engines.
  *
  * Scale notes (100 TB):
  *  - Dims (`region`, `nation`, `supplier`, `part`) are broadcast
  *    explicitly; fact-fact joins (orders⋈lineitem, customer⋈orders) are
  *    left to Catalyst/AQE which plans a shuffled hash/SMJ on the join
  *    key — at cluster scale those keys should be co-bucketed at write
  *    time.
  *  - Aggregations are `groupBy.agg` so Spark plans partial (map-side) +
  *    final hash aggregation; no driver-side loops anywhere.
  *  - Filters sit directly on the scan (parquet `PushedFilters`); selects
  *    bound `ReadSchema` — column pruning matters on the 100 TB fact
  *    table.
  *  - Top-k = orderBy+limit → `TakeOrderedAndProject` (per-partition
  *    heap, no full sort), with an integer sort key so ordering is total
  *    and stable.
  */
object Tpch extends Family {

  /** Exact integer cents from a 2-decimal-quantized double column. */
  private def cents(c: Column): Column = round(c * 100, 0).cast("long")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 analog: full-scan partial+final agg (SURVEY A7/A10).
    "q01_pricing_summary" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" <= lit("1999-12-31").cast("timestamp"))
        .select($"l_returnflag", $"l_linestatus",
          $"l_quantity".cast("long").as("qty"),
          cents($"l_extendedprice").as("price_c"),
          cents($"l_discount").as("disc_c"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"qty").as("sum_qty"),
          sum($"price_c").as("sum_base_price_c"),
          // extendedprice*(1-discount) in units of 1e-4 dollars, exact
          sum($"price_c" * (lit(100L) - $"disc_c")).as("sum_disc_price_c4"),
          sum($"disc_c").as("sum_disc_c"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // TPC-H Q6 analog: pure scan-aggregate; predicate pushdown showcase.
    "q02_revenue_forecast" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1998-01-01").cast("timestamp") &&
          $"l_discount" >= 0.03 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
        .select(cents($"l_extendedprice").as("price_c"),
          cents($"l_discount").as("disc_c"))
        .agg(sum($"price_c" * $"disc_c").as("revenue_c4"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q5 analog: star join — broadcast the dim chain, shuffle only
    // the fact table once.
    "q03_revenue_by_nation" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
        .select($"l_suppkey",
          (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount"))).as("rev_c4"))
      li.join(broadcast(Tables.supplier(s, d)), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(sum($"rev_c4").as("revenue_c4"), count(lit(1)).as("n_items"))
        .orderBy($"r_name", $"n_name")
    }),

    // TPC-H Q3/Q10 analog: fact-fact join + top-k (TakeOrderedAndProject).
    "q04_top_customers" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
        .select($"l_orderkey",
          (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount"))).as("rev_c4"))
      li.join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .groupBy($"c_custkey", $"c_name", $"c_mktsegment")
        .agg(sum($"rev_c4").as("revenue_c4"))
        .orderBy($"revenue_c4".desc, $"c_custkey")
        .limit(10)
    }),

    // TPC-H Q4 analog: EXISTS → left-semi join (SURVEY J6 relationship-
    // existence check).
    "q05_priority_with_discounted" -> ((s, d) => {
      import s.implicits._
      val disc = Tables.lineitem(s, d)
        .filter($"l_discount" > 0.05).select($"l_orderkey")
      Tables.orders(s, d)
        .join(disc, $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy($"o_orderpriority")
    }),

    // NOT EXISTS → left-anti join (complement of J6).
    "q06_customers_without_p_orders" -> ((s, d) => {
      import s.implicits._
      val pOrders = Tables.orders(s, d)
        .filter($"o_orderstatus" === "P").select($"o_custkey")
      Tables.customer(s, d)
        .join(pOrders, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(cents($"c_acctbal")).as("sum_acctbal_c"))
        .orderBy($"c_mktsegment")
    }),

    // Broadcast dim join + per-group revenue (SURVEY J2-style doc↔entity).
    "q07_revenue_by_part_type" -> ((s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
        .select($"l_partkey",
          (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount"))).as("rev_c4"))
      li.join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
        .groupBy($"p_type")
        .agg(sum($"rev_c4").as("revenue_c4"),
          sum(cents($"p_retailprice")).as("sum_retail_c"),
          count(lit(1)).as("n_items"))
        .orderBy($"p_type")
    }),

    // Window top-N per group — the faithful mapping of the reference's
    // first-occurrence semantics (SURVEY A1/A5: row_number over an order).
    "q08_top_orders_per_segment" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"c_mktsegment", $"rk", $"o_orderkey",
          $"o_totalprice".as("total_price"))
        .orderBy($"c_mktsegment", $"rk")
    }),

    // Rollup (multi-level agg in one pass); NULL grouping cells made
    // hash-stable via coalesce to a sentinel.
    "q09_status_priority_rollup" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select($"o_orderstatus", $"o_orderpriority",
          cents($"o_totalprice").as("price_c"))
        .rollup($"o_orderstatus", $"o_orderpriority")
        .agg(sum($"price_c").as("total_c"), count(lit(1)).as("n"))
        .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
          coalesce($"o_orderpriority", lit("ALL")).as("priority"),
          $"total_c", $"n")
        .orderBy($"status", $"priority")
    }),

    // Set ops (SURVEY §2.6): customers active in both F and O order states.
    "q10_customers_in_both_states" -> ((s, d) => {
      import s.implicits._
      val ord = Tables.orders(s, d)
      val f = ord.filter($"o_orderstatus" === "F").select($"o_custkey").distinct()
      val o = ord.filter($"o_orderstatus" === "O").select($"o_custkey").distinct()
      f.intersect(o).agg(count(lit(1)).as("n_both"))
    }),

    // Date dimension extraction + per-year agg (scalar function coverage).
    "q11_yearly_shipments" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy(year($"l_shipdate").cast("long").as("ship_year"))
        .agg(count(lit(1)).as("n_items"),
          sum($"l_quantity".cast("long")).as("sum_qty"),
          countDistinct($"l_orderkey").as("n_orders"))
        .orderBy($"ship_year")
    }),

    // Per-group comparison against the group aggregate without a self-join
    // (windowed sum/count; the above-average predicate is exact integer
    // arithmetic: price*n > sum).
    "q12_parts_above_brand_avg" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"p_brand")
      Tables.part(s, d)
        .select($"p_brand", cents($"p_retailprice").as("price_c"))
        .withColumn("sum_c", sum($"price_c").over(w))
        .withColumn("n", count(lit(1)).over(w))
        .filter($"price_c" * $"n" > $"sum_c")
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_above"), max($"price_c").as("max_price_c"))
        .orderBy($"p_brand")
    }),

    // Skew-safe two-stage aggregation: l_returnflag has only 3 values, so
    // a naive groupBy funnels a third of the 100 TB fact table into 3
    // reducers. Salting on a deterministic key spreads the partial
    // aggregation across (flag × 16) cells; the final per-flag combine
    // touches only 48 pre-aggregated rows. Result is bit-identical to the
    // plain grouping (integer cents, associative sums) — the oracle IS
    // the unsalted query.
    "q13_salted_skew_agg" -> ((s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .select($"l_returnflag", ($"l_orderkey" % 16).as("salt"),
          cents($"l_extendedprice").as("price_c"))
        .groupBy($"l_returnflag", $"salt")
        .agg(sum($"price_c").as("p"), count(lit(1)).as("n"))
        .groupBy($"l_returnflag")
        .agg(sum($"p").as("revenue_c"), sum($"n").as("n_rows"))
        .orderBy($"l_returnflag")
    })
  )

  def oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                  * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_price_c4,
         CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-31'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_revenue_forecast" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                      * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c4,
         count(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""",
    "q03_revenue_by_nation" ->
      """SELECT r_name, n_name,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                  * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4,
         count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q04_top_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                  * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name, c_mktsegment
         ORDER BY revenue_c4 DESC, c_custkey LIMIT 10""",
    "q05_priority_with_discounted" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q06_customers_without_p_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
         CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_acctbal_c
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q07_revenue_by_part_type" ->
      """SELECT p_type,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                  * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4,
         CAST(sum(CAST(round(p_retailprice*100) AS BIGINT)) AS BIGINT) AS sum_retail_c,
         count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_type ORDER BY p_type""",
    "q08_top_orders_per_segment" ->
      """SELECT c_mktsegment, rk, o_orderkey, total_price FROM (
           SELECT c_mktsegment,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk,
             o_orderkey, o_totalprice AS total_price
           FROM orders JOIN customer ON o_custkey = c_custkey) t
         WHERE rk <= 3 ORDER BY c_mktsegment, rk""",
    "q09_status_priority_rollup" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
         coalesce(o_orderpriority,'ALL') AS priority,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c,
         count(*) AS n
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "q10_customers_in_both_states" ->
      """SELECT count(*) AS n_both FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus='F'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderstatus='O') t""",
    "q11_yearly_shipments" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         count(*) AS n_items,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         count(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY 1 ORDER BY ship_year""",
    "q12_parts_above_brand_avg" ->
      """SELECT p_brand, count(*) AS n_above,
         CAST(max(price_c) AS BIGINT) AS max_price_c
         FROM (SELECT p_brand,
                 CAST(round(p_retailprice*100) AS BIGINT) AS price_c,
                 sum(CAST(round(p_retailprice*100) AS BIGINT))
                   OVER (PARTITION BY p_brand) AS sum_c,
                 count(*) OVER (PARTITION BY p_brand) AS n
               FROM part) t
         WHERE price_c * n > sum_c
         GROUP BY p_brand ORDER BY p_brand""",
    // the UNsalted form — salting must not change results
    "q13_salted_skew_agg" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_c,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
  )
}
