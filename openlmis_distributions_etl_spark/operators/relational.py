"""Relational / reporting core (SURVEY.md §2.A).

Each operator is a pure ``dict[str, DataFrame] -> DataFrame`` function
over the canonical tables. Plans are fully declarative DataFrame code:
Catalyst pushes the filters into the parquet scans, prunes columns, and
AQE picks broadcast sides at runtime; explicit ``broadcast()`` hints
mark the dimension sides that stay small at any scale factor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import (charge, davg, dec, disc_price, dsum,
                         dsum_of, spread)


def q1_pricing_summary(t: dict[str, DataFrame],
                       cutoff: str = "2001-09-01") -> DataFrame:
    """Flagship: grouped pricing summary over the lineitem fact.

    One map-side-combinable hash aggregate over a single scan — at
    100 TB this is scan-bound; no join, one shuffle on the tiny
    (returnflag, linestatus) key space.
    """
    # the decimal-exact partial aggregate is the heavy map here; at an
    # unsplittable test layout the scan is one task, so spread the
    # filtered 7-column projection (guide §2.5 point-of-use, §2.3
    # project-before-exchange) — a no-op at splittable layouts
    li = spread(t["lineitem"]
                .where(F.col("l_shipdate") <= cutoff)
                .select("l_returnflag", "l_linestatus", "l_quantity",
                        "l_extendedprice", "l_discount", "l_tax"))
    return (
        li
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum_of(disc_price()).alias("sum_disc_price"),
            dsum_of(charge()).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", "decimal(8,4)").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(t: dict[str, DataFrame], segment: str = "BUILDING",
                         date: str = "1998-06-01", k: int = 10) -> DataFrame:
    """Top-k unshipped orders by revenue: two joins, fact-side filters
    pushed to scans, customer dim broadcast."""
    cust = t["customer"].where(F.col("c_mktsegment") == segment)
    orders = t["orders"].where(F.col("o_orderdate") < date)
    li = t["lineitem"].where(F.col("l_shipdate") > date)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(dsum_of(disc_price()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(k)
    )


def q4_order_priority(t: dict[str, DataFrame], start: str = "1997-01-01",
                      end: str = "1997-04-01", late_days: int = 90) -> DataFrame:
    """Orders (one quarter) with ≥1 line shipped > late_days after
    order date, counted per priority. LEFT SEMI join keeps the probe
    side de-duplicated without a distinct shuffle."""
    orders = t["orders"].where(
        (F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end))
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")),
        "left_semi",
    )
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


def q5_regional_volume(t: dict[str, DataFrame], region: str = "ASIA",
                       start: str = "1996-01-01", end: str = "1997-01-01") -> DataFrame:
    """Revenue per nation for intra-nation supplier/customer trade in a
    region+year: classic 6-way star join. All dims broadcast; the only
    big shuffle is lineitem⋈orders on orderkey."""
    region_df = t["region"].where(F.col("r_name") == region)
    nation = t["nation"].join(broadcast(region_df),
                              F.col("n_regionkey") == F.col("r_regionkey"))
    cust = t["customer"].join(broadcast(nation),
                              F.col("c_nationkey") == F.col("n_nationkey"))
    orders = t["orders"].where(
        (F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end))
    supp = t["supplier"]
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(supp),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .groupBy("n_name")
        .agg(dsum_of(disc_price()).alias("revenue"))
    )


def q6_forecast_revenue(t: dict[str, DataFrame], start: str = "1997-01-01",
                        end: str = "1998-01-01", d_lo: float = 0.03,
                        d_hi: float = 0.07, qty: float = 25.0) -> DataFrame:
    """Selective scan + global agg; every predicate reaches the parquet
    scan (PushedFilters), projection is 2 columns."""
    li = t["lineitem"]
    return (
        li.where(
            (F.col("l_shipdate") >= start) & (F.col("l_shipdate") < end)
            & (F.col("l_discount") >= d_lo) & (F.col("l_discount") <= d_hi)
            & (F.col("l_quantity") < qty))
        .agg(dsum_of(dec("l_extendedprice")
                     * dec("l_discount", "decimal(8,4)")).alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


def q10_returned_items(t: dict[str, DataFrame], start: str = "1997-01-01",
                       end: str = "1997-04-01", k: int = 20) -> DataFrame:
    """Customers ranked by revenue lost to returns in a quarter."""
    orders = t["orders"].where(
        (F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end))
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    nation = t["nation"]
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum_of(disc_price()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def anti_join_inactive_customers(t: dict[str, DataFrame],
                                 since: str = "2000-01-01") -> DataFrame:
    """Customers with no orders since a date — LEFT ANTI join (no
    distinct/shuffle on the fact side beyond the join itself)."""
    recent = t["orders"].where(F.col("o_orderdate") >= since)
    return (
        t["customer"].join(recent, F.col("c_custkey") == F.col("o_custkey"),
                           "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def grouped_having_big_orders(t: dict[str, DataFrame], min_lines: int = 5,
                              min_value: float = 100000.0) -> DataFrame:
    """Aggregate + HAVING over the fact: orders with many lines and
    large gross value."""
    li = t["lineitem"]
    agg = (li.groupBy("l_orderkey")
           .agg(F.count(F.lit(1)).alias("n_lines"),
                dsum("l_extendedprice").alias("gross_value")))
    return agg.where((F.col("n_lines") >= min_lines)
                     & (F.col("gross_value") > min_value))


def rollup_priority_status(t: dict[str, DataFrame]) -> DataFrame:
    """ROLLUP grouping-set aggregate with sentinel-coalesced keys (so
    the subtotal rows hash identically across engines)."""
    orders = t["orders"]
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             dsum("o_totalprice").alias("total_value"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders", "total_value")
    )


def pivot_event_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Pivot event_type → one count column per type, per user."""
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        t["events"].groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


def percentile_order_value(t: dict[str, DataFrame]) -> DataFrame:
    """Exact (interpolated) order-value percentiles per priority.

    Rounded to 6 decimals on both engines: Spark's `percentile` and
    DuckDB's `quantile_cont` use algebraically equivalent but not
    bit-identical interpolation.
    """
    orders = t["orders"]
    p = lambda q: F.round(F.expr(f"percentile(o_totalprice, {q})"), 6)
    return (orders.groupBy("o_orderpriority")
            .agg(p(0.25).alias("p25"), p(0.5).alias("p50"),
                 p(0.75).alias("p75"),
                 F.count(F.lit(1)).alias("n_orders")))


def json_extract_props(t: dict[str, DataFrame]) -> DataFrame:
    """JSON field extraction from the events payload, aggregated per
    event type (get_json_object stays JVM-side/codegen)."""
    ev = t["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.groupBy("event_type")
            .agg(F.sum(k).alias("sum_k"),
                 F.count(k).alias("n_with_k"),
                 F.count(F.lit(1)).alias("n_events")))


def q7_nation_trade_volume(t: dict[str, DataFrame],
                           nation_a: str = "NATION_9",
                           nation_b: str = "NATION_6") -> DataFrame:
    """Bilateral trade volume between two nations by year (q7 shape):
    supplier nation × customer nation × year revenue."""
    n1 = t["nation"].select(F.col("n_nationkey").alias("s_nk"),
                            F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("c_nk"),
                            F.col("n_name").alias("cust_nation"))
    j = (t["lineitem"]
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .join(broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
         .join(broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
         .join(broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
         .where(((F.col("supp_nation") == nation_a)
                 & (F.col("cust_nation") == nation_b))
                | ((F.col("supp_nation") == nation_b)
                   & (F.col("cust_nation") == nation_a))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("ship_year"))
            .agg(dsum_of(disc_price()).alias("revenue")))


def q8_market_share(t: dict[str, DataFrame], region: str = "AMERICA",
                    nation: str = "NATION_9") -> DataFrame:
    """One nation's share of a region's import revenue per year (q8
    shape): conditional decimal sums, share as IEEE division of
    identically-derived doubles."""
    geo = (t["customer"]
           .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
           .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
           .where(F.col("r_name") == region)
           .select("c_custkey"))
    supp_n = (t["supplier"]
              .join(broadcast(t["nation"].select(
                  F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))),
                  F.col("s_nationkey") == F.col("sn_key"))
              .select("s_suppkey", "supp_nation"))
    j = (t["lineitem"]
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .join(broadcast(geo), F.col("o_custkey") == F.col("c_custkey"))
         .join(broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey")))
    vol = dsum_of(disc_price())
    nation_vol = F.sum(F.when(F.col("supp_nation") == nation,
                              disc_price()))         .cast("decimal(38,6)").cast("double")
    return (j.groupBy(F.year("o_orderdate").alias("order_year"))
            .agg(vol.alias("total_revenue"),
                 F.coalesce(nation_vol, F.lit(0.0)).alias("nation_revenue"))
            .withColumn("market_share",
                        F.col("nation_revenue") / F.col("total_revenue")))


def q9_profit_by_nation_year(t: dict[str, DataFrame],
                             cost_rate: float = 0.6) -> DataFrame:
    """Synthetic product-profit per supplier nation and year (q9 shape
    without ps_supplycost): revenue and cost summed separately in exact
    decimal, profit as double subtraction of the two."""
    supp_n = (t["supplier"]
              .join(broadcast(t["nation"].select(
                  F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))),
                  F.col("s_nationkey") == F.col("sn_key"))
              .select("s_suppkey", "supp_nation"))
    cost = (dec("l_quantity", "decimal(8,4)") * dec("p_retailprice")
            * F.lit(cost_rate).cast("decimal(8,4)"))
    j = (spread(t["lineitem"]
                .select("l_orderkey", "l_partkey", "l_suppkey",
                        "l_quantity", "l_extendedprice", "l_discount"))
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .join(broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")))
    return (j.groupBy("supp_nation", F.year("o_orderdate").alias("order_year"))
            .agg(dsum_of(disc_price()).alias("revenue"),
                 F.sum(cost).cast("decimal(38,6)").cast("double")
                 .alias("cost"))
            .withColumn("profit", F.col("revenue") - F.col("cost")))


def q14_promo_revenue_share(t: dict[str, DataFrame], start: str = "1997-09-01",
                            end: str = "1997-10-01") -> DataFrame:
    """Share of one month's revenue from PROMO parts (q14 shape)."""
    li = t["lineitem"].where((F.col("l_shipdate") >= start)
                             & (F.col("l_shipdate") < end))
    j = li.join(broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", disc_price()))         .cast("decimal(38,6)").cast("double")
    total = dsum_of(disc_price())
    return j.agg(
        F.coalesce(promo, F.lit(0.0)).alias("promo_revenue"),
        total.alias("total_revenue")).withColumn(
        "promo_share",
        100.0 * F.col("promo_revenue") / F.col("total_revenue"))


def q13_customer_order_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Customer order-count distribution (q13 shape): left join keeps
    zero-order customers, double aggregate. Both aggregates shuffle on
    small keys; the first one partial-aggregates on c_custkey."""
    per_cust = (
        t["customer"].select("c_custkey")
        .join(t["orders"].select("o_custkey", "o_orderkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders")))
    return (per_cust.groupBy("n_orders")
            .agg(F.count(F.lit(1)).alias("n_customers")))


def q15_top_supplier(t: dict[str, DataFrame], start: str = "1997-01-01",
                     end: str = "1997-04-01") -> DataFrame:
    """Top revenue supplier(s) for a quarter (q15 shape): the revenue
    CTE is computed once and reused for both the max and the final
    join; the single-row max side is broadcast."""
    rev = (t["lineitem"]
           .where((F.col("l_shipdate") >= start) & (F.col("l_shipdate") < end))
           .groupBy("l_suppkey")
           .agg(dsum_of(disc_price()).alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (rev.join(broadcast(mx), F.col("total_revenue") == F.col("mx"))
            .join(broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue"))


def q17_small_quantity_revenue(t: dict[str, DataFrame],
                               brand: str = "Brand#3") -> DataFrame:
    """Average yearly revenue lost by only shipping small orders of one
    brand's parts (q17 shape). The per-part average-quantity threshold
    is an exact decimal sum / count, so the correlated comparison is
    bit-stable; the brand dim filter prunes before the big join."""
    pa = t["part"].where(F.col("p_brand") == brand).select("p_partkey")
    li = (t["lineitem"]
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(broadcast(pa), F.col("l_partkey") == F.col("p_partkey")))
    thresh = (li.groupBy("l_partkey")
              .agg((F.lit(0.2) * (dsum("l_quantity") / F.count(F.lit(1))))
                   .alias("qty_limit")))
    return (li.join(broadcast(thresh), "l_partkey")
            .where(F.col("l_quantity") < F.col("qty_limit"))
            .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
                 F.count(F.lit(1)).alias("n_lines")))


def q18_large_volume_customers(t: dict[str, DataFrame],
                               min_qty: float = 250.0) -> DataFrame:
    """Orders whose total quantity exceeds a threshold, with their
    customers (q18 shape): the HAVING aggregate runs on lineitem alone
    (orderkey shuffle with map-side combine), then the small surviving
    set joins orders/customer."""
    big = (t["lineitem"].groupBy("l_orderkey")
           .agg(dsum("l_quantity").alias("total_qty"))
           .where(F.col("total_qty") > min_qty))
    return (big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
            .join(broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .select("c_custkey", "c_name", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("orderdate"),
                    "o_totalprice", "total_qty"))


def q19_disjunctive_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Disjunctive brand/size/quantity predicates (q19 shape): one
    join, the OR-of-ANDs evaluated post-join; Catalyst extracts the
    common p_size/l_quantity bounds for scan-level pruning."""
    j = (t["lineitem"]
         .join(broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")))
    cond = (
        ((F.col("p_brand") == "Brand#1")
         & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2")
           & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3")
           & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30)))
    return (j.where(cond)
            .agg(dsum_of(disc_price()).alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines")))


def q22_dormant_high_balance(t: dict[str, DataFrame],
                             since: str = "2000-01-01") -> DataFrame:
    """Customers above the global positive-balance average with no
    orders since a cutoff (q22 shape, nation in place of phone prefix;
    recency-based dormancy because every customer in this data has at
    least one lifetime order): scalar threshold broadcast, anti join
    against recent orders, per-nation rollup."""
    cust = t["customer"]
    thresh = (cust.where(F.col("c_acctbal") > 0.0)
              .agg((dsum("c_acctbal") / F.count(F.lit(1))).alias("avg_bal")))
    recent = t["orders"].where(F.col("o_orderdate") >= since) \
        .select("o_custkey")
    dormant = (cust.join(broadcast(thresh))
               .where(F.col("c_acctbal") > F.col("avg_bal"))
               .join(recent,
                     F.col("c_custkey") == F.col("o_custkey"), "left_anti"))
    return (dormant
            .join(broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 dsum("c_acctbal").alias("total_balance")))


def q2_min_cost_supplier(t: dict[str, DataFrame],
                         max_size: int = 10) -> DataFrame:
    """Min-cost supplier per part (q2 shape, lineitem as the
    part-supplier bridge since this schema carries no partsupp table):
    for small parts, each (part, supplier) pair's average unit price,
    keeping only pairs that hit the part's minimum.

    The per-pair aggregate shuffles once on (partkey, suppkey); the
    per-part minimum is a second tiny aggregate joined back broadcast
    (q15's max-equality pattern). Unit price is an exact decimal sum
    ratio, so the min-equality join is bit-stable."""
    pa = (t["part"].where(F.col("p_size") <= max_size)
          .select("p_partkey", "p_name", "p_size"))
    li = (t["lineitem"]
          .join(broadcast(pa), F.col("l_partkey") == F.col("p_partkey")))
    pair_cost = (
        li.groupBy("l_partkey", "l_suppkey", "p_name", "p_size")
        .agg((dsum("l_extendedprice") / dsum("l_quantity"))
             .alias("unit_cost")))
    part_min = (pair_cost.groupBy(F.col("l_partkey").alias("m_partkey"))
                .agg(F.min("unit_cost").alias("min_cost")))
    return (
        pair_cost
        .join(part_min, (F.col("l_partkey") == F.col("m_partkey"))
              & (F.col("unit_cost") == F.col("min_cost")))
        .join(broadcast(t["supplier"]),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("l_partkey").alias("p_partkey"), "p_name", "p_size",
                "s_suppkey", "s_name", "s_acctbal", "unit_cost"))


def q11_important_parts(t: dict[str, DataFrame],
                        mult: float = 1.3) -> DataFrame:
    """Parts with an outsized share of total traded value (q11 shape):
    per-part value aggregate HAVING-filtered against a scalar-subquery
    threshold (``mult`` × the mean per-part value).

    Both aggregates read one lineitem scan shape; the global
    total/part-count is a one-row broadcast, so the HAVING comparison
    is map-side. The mean is exact-decimal total ÷ exact distinct
    count (a double mean of per-part doubles would be partition-order
    dependent), so the threshold is bit-stable across engines."""
    value = disc_price()
    per_part = (t["lineitem"]
                .groupBy("l_partkey")
                .agg(dsum_of(value).alias("part_value")))
    total = (t["lineitem"]
             .agg((dsum_of(value) / F.countDistinct("l_partkey")
                   * F.lit(mult)).alias("threshold")))
    return (per_part.join(broadcast(total))
            .where(F.col("part_value") > F.col("threshold"))
            .select("l_partkey", "part_value"))


def q12_late_shipment_priority(t: dict[str, DataFrame],
                               year: int = 1997,
                               late_days: int = 90) -> DataFrame:
    """Priority mix of late vs on-time shipments (q12 shape; ship
    latency class replaces shipmode, which this schema lacks): one
    join, CASE-conditional counts per class — a single shuffle on a
     2-row key."""
    j = (t["lineitem"]
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .where(F.year("l_shipdate") == year))
    is_late = (F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (j.groupBy(F.when(is_late, "LATE").otherwise("ONTIME")
                      .alias("ship_class"))
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_priority"),
                 F.sum(F.when(high, 0).otherwise(1)).alias("low_priority")))


def q16_supplier_variety(t: dict[str, DataFrame]) -> DataFrame:
    """Distinct supplier count per (brand, size-bucket), excluding
    suppliers in the NOT-IN set (negative balance) — q16 shape.

    The (part, supplier) bridge de-duplicates with one aggregate-free
    distinct on the join output; the exclusion list is tiny and
    broadcast as a left-anti join (NOT IN with guaranteed non-null
    keys). COUNT(DISTINCT) then shuffles on the small report key."""
    bad = t["supplier"].where(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        t["lineitem"].select("l_partkey", "l_suppkey").distinct()
        .join(broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .join(broadcast(t["part"].select("p_partkey", "p_brand", "p_size")),
              F.col("l_partkey") == F.col("p_partkey")))
    bucket = (F.floor(F.col("p_size") / 10) * 10).cast("int")
    return (pairs.groupBy("p_brand", bucket.alias("size_bucket"))
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


def q20_excess_supply_suppliers(t: dict[str, DataFrame],
                                prefix: str = "small",
                                year: int = 1997,
                                share: float = 0.3) -> DataFrame:
    """Suppliers that shipped an outsized share of a watched part's
    volume in one year (q20 shape: nested semi-join chain). The
    part-name filter prunes before any shuffle; per-(part, supplier)
    and per-part aggregates reuse the same shuffled scan; the final
    distinct supplier set joins the supplier/nation dims broadcast."""
    pa = (t["part"].where(F.col("p_name").startswith(prefix))
          .select("p_partkey"))
    li = (t["lineitem"].where(F.year("l_shipdate") == year)
          .join(broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", "l_suppkey", "l_quantity"))
    pair_qty = (li.groupBy("l_partkey", "l_suppkey")
                .agg(dsum("l_quantity").alias("pair_qty")))
    part_qty = (li.groupBy(F.col("l_partkey").alias("q_partkey"))
                .agg((dsum("l_quantity") * F.lit(share)).alias("qty_bar")))
    heavy = (pair_qty
             .join(part_qty, F.col("l_partkey") == F.col("q_partkey"))
             .where(F.col("pair_qty") > F.col("qty_bar"))
             .select("l_suppkey").distinct())
    return (heavy
            .join(broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(broadcast(t["nation"]),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name", "n_name"))


def q21_sole_late_supplier(t: dict[str, DataFrame],
                           late_days: int = 90,
                           k: int = 20) -> DataFrame:
    """Suppliers that were the ONLY late shipper on multi-supplier
    orders (q21 shape). The EXISTS / NOT-EXISTS pair collapses into
    per-order window collect_sets — distinct suppliers and distinct
    late suppliers — computed alongside the rows in ONE pass over the
    joined fact; at 100 TB that replaces two correlated self-probes
    (which would re-shuffle the fact and re-join it onto itself) with
    a single sort within the orderkey shuffle the join already did."""
    from pyspark.sql import Window

    li = (t["lineitem"]
          .join(t["orders"].select("o_orderkey", "o_orderdate"),
                F.col("l_orderkey") == F.col("o_orderkey"))
          .select("l_orderkey", "l_suppkey",
                  (F.col("l_shipdate") > F.col("o_orderdate")
                   + F.expr(f"INTERVAL {late_days} DAYS")).alias("late")))
    w = Window.partitionBy("l_orderkey")
    flagged = li.select(
        "l_orderkey", "l_suppkey", "late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supps"),
        F.size(F.collect_set(F.when(F.col("late"), F.col("l_suppkey")))
               .over(w)).alias("n_late_supps"))
    culprit = (flagged
               .where(F.col("late") & (F.col("n_supps") > 1)
                      & (F.col("n_late_supps") == 1))
               .select("l_orderkey", "l_suppkey").distinct())
    return (culprit.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .join(broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_name", "numwait")
            .orderBy(F.desc("numwait"), F.asc("s_name"))
            .limit(k))


# One dialect-portable SQL text for the flagship summary: the SAME
# string runs verbatim through spark.sql (over a temp view) and
# through DuckDB as its oracle — one statement, two engines, exact
# match. Demonstrates the engine's SQL surface next to the DataFrame
# API; every construct here (decimal casts, timestamp literal,
# grouped aggregates) is common dialect.
PORTABLE_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                AS DECIMAL(38,6)) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(8,4))
                            - CAST(l_discount AS DECIMAL(8,4))))
                AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM {table}
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


def sql_pricing_summary(t: dict[str, DataFrame]) -> DataFrame:
    """The spark.sql API surface: register the fact as a temp view and
    run ``PORTABLE_Q1_SQL`` verbatim — Catalyst produces the same
    scan→partial-agg→exchange→final-agg plan as the DataFrame-API
    twin (q1_pricing_summary), proving the two surfaces are
    interchangeable entry points to one engine."""
    li = t["lineitem"]
    li.createOrReplaceTempView("lineitem_v")
    return li.sparkSession.sql(PORTABLE_Q1_SQL.format(table="lineitem_v"))


def supplier_scorecard(t: dict[str, DataFrame],
                       on_time_days: int = 30) -> DataFrame:
    """Supplier performance scorecard — the distributions-domain KPI
    rollup: per supplier, line volume, decimal-exact discounted
    revenue, on-time ship rate (shipped within `on_time_days` of the
    order date) and return rate. One fact-side shuffle (lineitem ⋈
    orders on orderkey), supplier dim broadcast, map-side-combinable
    aggregates; the rates are IEEE divisions of exact counts."""
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate",
                              "l_returnflag", disc_price().alias("dp"))
    o = t["orders"].select("o_orderkey", "o_orderdate")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    on_time = (F.datediff("l_shipdate", "o_orderdate")
               <= on_time_days).cast("long")
    returned = (F.col("l_returnflag") == "R").cast("long")
    per = (j.groupBy("l_suppkey")
           .agg(F.count(F.lit(1)).alias("n_lines"),
                dsum_of(F.col("dp")).alias("revenue"),
                F.sum(on_time).alias("n_on_time"),
                F.sum(returned).alias("n_returned")))
    s = t["supplier"].select("s_suppkey", "s_name")
    return (per.join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("s_suppkey").alias("suppkey"), "s_name",
                    "n_lines", "revenue",
                    (F.col("n_on_time") / F.col("n_lines"))
                    .alias("on_time_rate"),
                    (F.col("n_returned") / F.col("n_lines"))
                    .alias("return_rate")))


def demand_yoy_by_type(t: dict[str, DataFrame]) -> DataFrame:
    """Demand planning rollup: monthly shipped quantity per part type
    with the year-ago month (lag 12 over the aggregated series) and
    YoY change — the seasonality view a replenishment planner reads.
    One fact-side aggregate (map-side combinable) with the part dim
    broadcast; the lag window runs on type × month rows, never the
    fact table; YoY is an IEEE division of exact decimal-sourced
    doubles."""
    from pyspark.sql import Window

    li = t["lineitem"].select("l_partkey", "l_shipdate", "l_quantity")
    p = t["part"].select("p_partkey", "p_type")
    m = (li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
         .groupBy("p_type",
                  F.date_format("l_shipdate", "yyyy-MM").alias("month"))
         .agg(dsum("l_quantity").alias("qty")))
    w = Window.partitionBy("p_type").orderBy("month")
    ly = F.lag("qty", 12).over(w)
    return m.select("p_type", "month", "qty",
                    ly.alias("qty_last_year"),
                    ((F.col("qty") - ly) / ly).alias("yoy"))


def supplier_lead_time_gaps(t: dict[str, DataFrame]) -> DataFrame:
    """Shipment-cadence report: per supplier, the day gaps between
    consecutive shipments (lag over a fully deterministic
    shipdate/orderkey/linenumber order) rolled up to count, average
    and max — the replenishment-frequency signal a distributions
    planner watches for supply interruptions.

    One shuffle on l_suppkey; both the lag window and the aggregate
    reuse that single partitioning. The gap average is an IEEE
    division of an exact integer day sum (day gaps are integers, so
    no float fold-order to pin), making the result engine-exact."""
    from pyspark.sql import Window

    li = t["lineitem"].select("l_suppkey", "l_shipdate", "l_orderkey",
                              "l_linenumber")
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber")
    gap = F.datediff("l_shipdate", F.lag("l_shipdate").over(w))
    gaps = li.select("l_suppkey", gap.cast("long").alias("gap_days"))
    per = (gaps.groupBy("l_suppkey")
           .agg(F.count(F.lit(1)).alias("n_shipments"),
                F.sum("gap_days").alias("sum_gap"),
                F.count("gap_days").alias("n_gaps"),
                F.max("gap_days").alias("max_gap_days")))
    s = t["supplier"].select("s_suppkey", "s_name")
    return (per.join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("l_suppkey").alias("suppkey"), "s_name",
                    "n_shipments",
                    (F.col("sum_gap").cast("double") / F.col("n_gaps"))
                    .alias("avg_gap_days"),
                    "max_gap_days"))


BACKLOG_BUCKETS = ((0, 30, "0-30d"), (31, 90, "31-90d"),
                   (91, 365, "91-365d"))


def orders_backlog_aging(t: dict[str, DataFrame]) -> DataFrame:
    """Open-order backlog aging: orders still in status 'O' bucketed
    by age (days from order date to the corpus's latest order date —
    the 'as of' anchor a snapshot report uses), per priority — the
    distribution-center workload view that shows where fulfilment is
    falling behind.

    One broadcast singleton (the anchor date) + one map-side bucket
    projection + one small-key aggregate; ages are integer days and
    value sums are exact decimals, so the report is engine-exact."""
    o = t["orders"].select("o_orderkey", "o_orderstatus",
                           "o_orderpriority", "o_orderdate",
                           "o_totalprice")
    anchor = o.agg(F.max("o_orderdate").alias("asof"))
    age = F.datediff(F.col("asof"), F.col("o_orderdate"))
    bucket = F.lit("365d+")
    for lo, hi, label in reversed(BACKLOG_BUCKETS):
        bucket = F.when((age >= lo) & (age <= hi), F.lit(label)) \
                  .otherwise(bucket)
    return (o.where(F.col("o_orderstatus") == "O")
            .crossJoin(F.broadcast(anchor))
            .select("o_orderpriority", bucket.alias("age_bucket"),
                    "o_totalprice")
            .groupBy("o_orderpriority", "age_bucket")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice").alias("backlog_value")))


def return_rate_by_brand(t: dict[str, DataFrame]) -> DataFrame:
    """Return-rate quality report per part brand: line counts, return
    counts/rate, and the decimal-exact revenue lost to returned lines
    — the supplier-quality slice a distributions QA team reviews.
    One fact shuffle on the small brand key space (map-side combine),
    part dim broadcast; the rate is an IEEE division of exact
    counts."""
    li = t["lineitem"].select("l_partkey", "l_returnflag",
                              disc_price().alias("dp"))
    p = t["part"].select("p_partkey", "p_brand")
    j = li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    ret = (F.col("l_returnflag") == "R").cast("long")
    return (j.groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(ret).alias("n_returned"),
                 dsum_of(F.when(F.col("l_returnflag") == "R",
                                F.col("dp"))).alias("returned_revenue"))
            .select("p_brand", "n_lines", "n_returned",
                    (F.col("n_returned") / F.col("n_lines"))
                    .alias("return_rate"),
                    "returned_revenue"))


def weekday_revenue_seasonality(t: dict[str, DataFrame]) -> DataFrame:
    """Order-revenue seasonality by day of week: volume, exact-decimal
    revenue, and each weekday's average order value indexed against
    the whole-corpus average — the demand-shape report a distribution
    planner uses to staff pick lines.

    Weekday is pure epoch-day arithmetic ((date - 1970-01-05) % 7,
    0 = Monday) — no locale-dependent day-name formatting, identical
    in both engines. One map-side-combinable aggregate onto a 7-key
    space; the index divides per-group and global decimal-exact
    averages, so only the final two IEEE divisions are float."""
    dow = ((F.datediff(F.col("o_orderdate").cast("date"),
                       F.lit("1970-01-05").cast("date")) % 7)
           .alias("weekday"))
    g = (t["orders"]
         .select(dow, "o_totalprice")
         .groupBy("weekday")
         .agg(F.count(F.lit(1)).alias("n_orders"),
              F.sum(dec("o_totalprice")).cast("decimal(38,6)")
              .alias("srev")))
    wall = Window.partitionBy()
    avg_g = F.col("srev").cast("double") / F.col("n_orders")
    avg_all = (F.sum("srev").over(wall).cast("decimal(38,6)")
               .cast("double")
               / F.sum("n_orders").over(wall))
    return g.select(
        "weekday", "n_orders",
        F.col("srev").cast("double").alias("revenue"),
        avg_g.alias("avg_order_value"),
        (avg_g / avg_all).alias("seasonality_index"))


SHIP_DELAY_PCTS = (25, 50, 75, 90)


def order_ship_delay_quantiles(t: dict[str, DataFrame]) -> DataFrame:
    """Exact discrete order-to-ship latency percentiles (p25/p50/p75/
    p90 whole days) per order priority — the fulfilment-SLA report
    where approximate sketches are not acceptable evidence.

    The percentile is rank-exact integer arithmetic (min delay whose
    cumulative line count reaches ceil(q·n/100)) over per-(priority,
    delay) counts: the fact join shuffles co-partitioned on orderkey,
    the aggregate collapses to a priority x bounded-days key space,
    and every window after that runs on that tiny frame — no global
    sort, no float percentile interpolation, engine-exact."""
    j = (t["lineitem"].select("l_orderkey", "l_shipdate")
         .join(t["orders"].select("o_orderkey", "o_orderpriority",
                                  "o_orderdate"),
               F.col("l_orderkey") == F.col("o_orderkey")))
    c = (j.select(F.col("o_orderpriority").alias("priority"),
                  F.datediff(F.col("l_shipdate").cast("date"),
                             F.col("o_orderdate").cast("date"))
                  .alias("delay"))
         .groupBy("priority", "delay")
         .agg(F.count(F.lit(1)).alias("c")))
    wcum = (Window.partitionBy("priority").orderBy("delay")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("priority")
    cum = c.select("priority", "delay",
                   F.sum("c").over(wcum).alias("cf"),
                   F.sum("c").over(wall).alias("n"))
    return (cum.groupBy("priority")
            .agg(F.max("n").alias("n_lines"),
                 *[F.min(F.when(
                     F.col("cf") >= F.expr(f"({q} * n + 99) DIV 100"),
                     F.col("delay"))).alias(f"p{q}")
                   for q in SHIP_DELAY_PCTS]))


AFFINITY_MIN_PAIRS = 2


def part_affinity_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Market-basket part affinity: pairs of parts co-ordered in the
    same order, with support and lift — the cross-sell/bundling
    report a distribution planner uses to co-locate stock.

    Scale shape: per-order DISTINCT part sets collapse in one
    aggregate (order key), pairs explode IN-ROW from the sorted set
    (≤ C(lines-per-order, 2) per order — bounded by order width, so
    pair volume grows linearly with orders), then one (x, y) count
    shuffle; part supports are a vocabulary-sized rollup broadcast
    back. Lift = N·c_xy/(c_x·c_y) is one deterministic double chain
    over exact counts."""
    from ..functions.cache import retain
    # retained: the per-order part sets feed the pair explosion, the
    # part supports, and the order count — uncached, three fact scans
    base = retain(t["lineitem"]
                  .groupBy("l_orderkey")
                  .agg(F.sort_array(F.collect_set("l_partkey"))
                       .alias("ps")))
    pairs = (
        base.select(F.explode(F.expr(
            "flatten(transform(ps, (x, i) -> "
            "transform(slice(ps, i + 2, size(ps)), y -> struct(x, y))))"))
            .alias("p"))
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .groupBy("x", "y").agg(F.count(F.lit(1)).alias("cxy"))
        .where(F.col("cxy") >= AFFINITY_MIN_PAIRS))
    cx = (base.select(F.explode("ps").alias("pkey"))
          .groupBy("pkey").agg(F.count(F.lit(1)).alias("c")))
    n = base.agg(F.count(F.lit(1)).alias("n_orders"))
    ca = cx.select(F.col("pkey").alias("x"), F.col("c").alias("cx"))
    cb = cx.select(F.col("pkey").alias("y"), F.col("c").alias("cy"))
    return (pairs.join(ca, "x").join(cb, "y")
            .crossJoin(F.broadcast(n))
            .select("x", "y", "cxy", "cx", "cy",
                    (F.col("cxy").cast("double") / F.col("n_orders"))
                    .alias("support"),
                    (F.col("n_orders").cast("double") * F.col("cxy")
                     / (F.col("cx").cast("double") * F.col("cy")))
                    .alias("lift")))


def part_supplier_redundancy(t: dict[str, DataFrame]) -> DataFrame:
    """Sourcing-redundancy histogram: how many parts have 1, 2, 3…
    distinct suppliers (from observed shipments) — the supply-risk
    report that flags single-sourced parts. Two map-side-combinable
    aggregates over the (part, supplier) distinct pairs; output is a
    ≤max-suppliers-row histogram with each bucket's part share."""
    ps = (t["lineitem"]
          .select("l_partkey", "l_suppkey").distinct()
          .groupBy("l_partkey")
          .agg(F.count(F.lit(1)).alias("n_suppliers")))
    hist = (ps.groupBy("n_suppliers")
            .agg(F.count(F.lit(1)).alias("n_parts")))
    wt = Window.partitionBy()
    return hist.select(
        "n_suppliers", "n_parts",
        (F.col("n_parts").cast("double")
         / F.sum("n_parts").over(wt)).alias("part_share"))


def customer_band_migration(t: dict[str, DataFrame]) -> DataFrame:
    """Year-over-year customer revenue-band migration matrix: each
    customer's annual spend banded by ORDER-OF-MAGNITUDE (digit count
    of the whole-currency part — integer-exact, no float log at band
    edges), consecutive years joined per customer, transitions
    counted. The churn/upsell flow chart behind revenue planning.

    Shapes: one (custkey, year) aggregate off the fact, a self-join
    co-partitioned on the SAME custkey hash (year+1 alignment adds no
    extra distribution), and a bands×bands rollup — the matrix key
    space is ~10×10 at any scale."""
    cy = (t["orders"]
          .groupBy("o_custkey", F.year("o_orderdate").alias("yr"))
          .agg(dsum("o_totalprice").alias("rev")))
    band = F.length(F.floor(F.col("rev")).cast("bigint")
                    .cast("string"))
    b = cy.select("o_custkey", "yr", band.alias("band"))
    nxt = b.select("o_custkey",
                   (F.col("yr") - 1).alias("yr"),
                   F.col("band").alias("to_band"))
    return (b.join(nxt, ["o_custkey", "yr"])
            .groupBy(F.col("band").alias("from_band"), "to_band")
            .agg(F.count(F.lit(1)).alias("n_customers")))


def nation_trade_balance(t: dict[str, DataFrame]) -> DataFrame:
    """Bilateral trade-balance matrix: for every unordered nation
    pair, revenue flowing each direction (supplier nation → customer
    nation) and the net balance — the full-matrix generalization of
    q7's two-nation report. One fact-side shuffle builds the
    ≤|nations|² revenue matrix (dims broadcast); the direction
    pairing is a full-outer self-join of that TINY matrix, so the
    balance stage costs nothing at any data scale. Revenues are
    exact decimal sums presented as double; the balance subtracts
    the two exact sums."""
    n1 = t["nation"].select(F.col("n_nationkey").alias("s_nk"),
                            F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("c_nk"),
                            F.col("n_name").alias("cust_nation"))
    m = (t["lineitem"]
         .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
         .join(broadcast(t["customer"]),
               F.col("o_custkey") == F.col("c_custkey"))
         .join(broadcast(t["supplier"]),
               F.col("l_suppkey") == F.col("s_suppkey"))
         .join(broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
         .join(broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
         .where(F.col("supp_nation") != F.col("cust_nation"))
         .groupBy("supp_nation", "cust_nation")
         .agg(dsum_of(disc_price()).alias("rev")))
    ab = (m.where(F.col("supp_nation") < F.col("cust_nation"))
          .select(F.col("supp_nation").alias("nation_a"),
                  F.col("cust_nation").alias("nation_b"),
                  F.col("rev").alias("a_to_b_rev")))
    ba = (m.where(F.col("supp_nation") > F.col("cust_nation"))
          .select(F.col("cust_nation").alias("nation_a"),
                  F.col("supp_nation").alias("nation_b"),
                  F.col("rev").alias("b_to_a_rev")))
    return (ab.join(ba, ["nation_a", "nation_b"], "full_outer")
            .select("nation_a", "nation_b",
                    F.coalesce("a_to_b_rev", F.lit(0.0))
                    .alias("a_to_b_rev"),
                    F.coalesce("b_to_a_rev", F.lit(0.0))
                    .alias("b_to_a_rev"),
                    (F.coalesce("a_to_b_rev", F.lit(0.0))
                     - F.coalesce("b_to_a_rev", F.lit(0.0)))
                    .alias("balance")))


WILSON_Z = 1.96
ONTIME_DAYS = 30


def supplier_ontime_wilson(t: dict[str, DataFrame]) -> DataFrame:
    """Supplier on-time-ship reliability ranked by the WILSON lower
    confidence bound — the statistically honest ranking when
    suppliers have wildly different shipment counts (a 3/3 supplier
    must not outrank a 96/100 one; the raw rate says it does, the
    lower bound says otherwise).

    On-time = shipped within 30 days of order date (integer date
    arithmetic). One fact-fact equi-join on the order key and one
    supplier-keyed count aggregate produce exact (k, n); the Wilson
    bound is a fixed chain of IEEE ops (sqrt correctly rounded, z a
    shared literal) written identically in the oracle."""
    j = (t["lineitem"]
         .select("l_orderkey", "l_suppkey", "l_shipdate")
         .join(t["orders"].select("o_orderkey", "o_orderdate"),
               F.col("l_orderkey") == F.col("o_orderkey")))
    ontime = (F.datediff(F.col("l_shipdate").cast("date"),
                         F.col("o_orderdate").cast("date"))
              <= ONTIME_DAYS).cast("long")
    g = (j.groupBy("l_suppkey")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(ontime).alias("k")))
    z = F.lit(WILSON_Z)
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    z2n = z * z / n
    lower = ((p + z2n / 2
              - z * F.sqrt(p * (1 - p) / n + z2n / (4 * n)))
             / (1 + z2n))
    return g.select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("n").alias("n_shipments"),
        F.col("k").alias("n_ontime"),
        p.alias("ontime_rate"),
        lower.alias("wilson_lower"))


def mom_delta_by_segment(t: dict[str, DataFrame]) -> DataFrame:
    """Month-over-month revenue-change CONTRIBUTION analysis: for
    every month, how much of the total delta each market segment
    drove — the "what moved the number" decomposition an analyst
    asks for right after seeing the growth chart.

    Exact decimal end to end: per-(month, segment) revenue sums in
    DECIMAL, lags and deltas stay decimal (segment deltas provably
    sum to the month delta), and only the final share division is
    IEEE. One broadcast dim join + one aggregate onto the bounded
    (month × segment) key space; lags ride calendar-bounded windows."""
    from pyspark.sql import Window

    from ..functions import month_key
    g = (t["orders"]
         .join(F.broadcast(t["customer"]
                           .select("c_custkey", "c_mktsegment")),
               F.col("o_custkey") == F.col("c_custkey"))
         .groupBy(month_key("o_orderdate").alias("month"),
                  "c_mktsegment")
         .agg(F.sum(dec("o_totalprice")).cast("decimal(38,6)")
              .alias("rev")))
    ws = Window.partitionBy("c_mktsegment").orderBy("month")
    seg = g.select(
        "month", "c_mktsegment", "rev",
        (F.col("rev") - F.coalesce(F.lag("rev").over(ws),
                                   F.lit(0).cast("decimal(38,6)")))
        .cast("decimal(38,6)").alias("seg_delta"))
    wm = Window.partitionBy("month")
    return (seg.select(
        "month", "c_mktsegment",
        F.col("rev").cast("double").alias("revenue"),
        F.col("seg_delta").cast("double").alias("seg_delta"),
        F.sum("seg_delta").over(wm).cast("decimal(38,6)")
        .alias("_tot"))
        .select("month", "c_mktsegment", "revenue", "seg_delta",
                F.col("_tot").cast("double").alias("month_delta"),
                F.when(F.col("_tot") != 0,
                       F.col("seg_delta")
                       / F.col("_tot").cast("double"))
                .otherwise(F.lit(None).cast("double"))
                .alias("delta_share")))


SEASONAL_Z_MILLI = 2000        # |z| > 2.0 flags an outlier


def seasonal_residual_outliers(t: dict[str, DataFrame]) -> DataFrame:
    """Weekday-adjusted daily-revenue outliers: each day's revenue is
    compared against ITS WEEKDAY's mean (the complement of
    weekday_revenue_seasonality — after the Monday/Sunday shape is
    removed, what still sticks out?), flagging days beyond 2σ of
    their weekday's residual spread.

    Exact integer residuals: with per-weekday count n and cent-sum S,
    the scaled residual d = n·x − S is a DECIMAL(38,0) (uniform scale
    within a weekday, so the σ comparison is scale-free); Σd² per
    weekday stays decimal-exact, and the z-score is ONE double chain
    d/√(Σd²/n) quantized to milli-units via the floor(x·1000 + 0.5)
    convention — identical text in the oracle. Weekday is epoch-day
    arithmetic from the 1970-01-05 Monday anchor (dates are all
    post-1970, so % 7 agrees across engines). Shapes: one
    calendar-bounded daily rollup, a 7-row broadcast join, a 7-key
    re-aggregate, a second 7-row broadcast join."""
    from ..functions.cache import retain
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) \
        .cast("long")
    eday = F.datediff(F.col("o_orderdate").cast("date"),
                      F.lit("1970-01-05").cast("date")).cast("bigint")
    daily = (t["orders"]
             .select(eday.alias("eday"), cents.alias("rc"))
             .groupBy("eday").agg(F.sum("rc").alias("rc")))
    daily = retain(daily.withColumn(
        "weekday", (F.col("eday") % 7).cast("int")))
    ws = (daily.groupBy("weekday")
          .agg(F.count(F.lit(1)).alias("n_w"),
               F.sum("rc").alias("s_w")))
    # precisions sized so every decimal op stays under the 38-digit
    # ceiling BOTH engines enforce (DuckDB rejects wider products at
    # bind time): 9+19-digit operands → 28-digit product, residual
    # cast to 19 digits so d·d is exactly 38
    d_expr = (F.col("n_w").cast("decimal(9,0)")
              * F.col("rc").cast("decimal(19,0)")
              - F.col("s_w").cast("decimal(28,0)"))
    resid = retain(daily.join(F.broadcast(ws), "weekday")
                   .withColumn("d", d_expr.cast("decimal(19,0)")))
    sd2 = (resid.groupBy("weekday")
           .agg(F.sum(F.col("d") * F.col("d"))
                .cast("decimal(38,0)").alias("sd2")))
    z = F.when(F.col("sd2") == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor(F.col("d").cast("double")
                / F.sqrt(F.col("sd2").cast("double") / F.col("n_w"))
                * 1000 + F.lit(0.5)).cast("bigint"))
    day = F.date_format(
        F.date_add(F.lit("1970-01-05").cast("date"),
                   F.col("eday").cast("int")), "yyyy-MM-dd")
    return (resid.join(F.broadcast(sd2), "weekday")
            .select(day.alias("day"),
                    F.col("weekday"),
                    (F.col("rc").cast("double") / 100.0)
                    .alias("revenue"),
                    z.alias("milli_z"),
                    (F.abs(z) > SEASONAL_Z_MILLI).alias("is_outlier")))


TRIPLE_MIN_SUPPORT = 2


def part_triple_affinity(t: dict[str, DataFrame]) -> DataFrame:
    """Market-basket 3-ITEMSETS: part triples co-ordered in the same
    order with support ≥ TRIPLE_MIN_SUPPORT and a triple lift vs
    item independence — one level up from `part_affinity_pairs`,
    the bundle report pair lift can't see (three items can pair
    freely yet never co-occur as a bundle).

    Scale shape: per-order DISTINCT part sets collapse in one order-
    key aggregate, triples explode IN-ROW from the sorted set
    (≤ C(lines-per-order, 3) per order — order width is bounded, so
    triple volume is linear in orders, never |parts|³), one
    (x, y, z) count shuffle with the support filter pushed into the
    aggregate's HAVING, and catalog-bounded item supports broadcast
    back. Lift = n²·c3/(cx·cy·cz) is one deterministic double chain
    over exact counts, written identically in the oracle."""
    from ..functions.cache import retain
    base = retain(t["lineitem"]
                  .groupBy("l_orderkey")
                  .agg(F.sort_array(F.collect_set("l_partkey"))
                       .alias("ps")))
    triples = (
        base.select(F.explode(F.expr(
            "flatten(transform(ps, (x, i) -> "
            " flatten(transform(slice(ps, i + 2, size(ps)), (y, j) -> "
            "  transform(slice(ps, i + j + 3, size(ps)), "
            "            z -> struct(x, y, z))))))"))
            .alias("p"))
        .select("p.x", "p.y", "p.z")
        .groupBy("x", "y", "z").agg(F.count(F.lit(1)).alias("c3"))
        .where(F.col("c3") >= TRIPLE_MIN_SUPPORT))
    cx = (base.select(F.explode("ps").alias("pkey"))
          .groupBy("pkey").agg(F.count(F.lit(1)).alias("c")))
    n = base.agg(F.count(F.lit(1)).alias("n_orders"))
    ca = cx.select(F.col("pkey").alias("x"), F.col("c").alias("cx"))
    cb = cx.select(F.col("pkey").alias("y"), F.col("c").alias("cy"))
    cc = cx.select(F.col("pkey").alias("z"), F.col("c").alias("cz"))
    return (triples.join(ca, "x").join(cb, "y").join(cc, "z")
            .crossJoin(F.broadcast(n))
            .select("x", "y", "z", "c3", "cx", "cy", "cz",
                    (F.col("c3").cast("double") / F.col("n_orders"))
                    .alias("support"),
                    (F.col("n_orders").cast("double")
                     * F.col("n_orders") * F.col("c3")
                     / (F.col("cx").cast("double") * F.col("cy")
                        * F.col("cz")))
                    .alias("lift")))


def nation_supplier_hhi(t: dict[str, DataFrame]) -> DataFrame:
    """Per-nation supplier-concentration HHI over shipped quantity —
    the sourcing-risk dual of `part_supplier_redundancy`: a nation
    whose supply is one mega-supplier (HHI → 1) is one failure away
    from a stock-out even when `part_supplier_redundancy` looks
    healthy part-by-part.

    HHI = Σₛ (qₛ/Q)² computed exactly as Σ qₛ² / Q²: quantities ride
    the portable cents grid into BIGINT, squares and sums accumulate
    in DECIMAL(38,0) (order-free), and both the HHI and the top-1
    share are single double expressions over exact integers,
    identical in the oracle.

    Scale shape: the fact aggregates FIRST on l_suppkey alone
    (map-side-combinable, one shuffle keyed on the supplier — never
    a composite fact shuffle), then the supplier→nation mapping and
    nation names join broadcast onto the supplier-bounded aggregate,
    and the final nation rollup is a 25-key map-side-combinable
    aggregate over supplier-count rows."""
    per_supp = (t["lineitem"]
                .groupBy("l_suppkey")
                .agg(F.sum(F.floor(F.col("l_quantity") * 100
                                   + F.lit(0.5)).cast("long"))
                     .alias("q")))
    j = (per_supp
         .join(broadcast(t["supplier"].select("s_suppkey",
                                              "s_nationkey")),
               per_supp["l_suppkey"] == F.col("s_suppkey"))
         .join(broadcast(t["nation"].select("n_nationkey", "n_name")),
               F.col("s_nationkey") == F.col("n_nationkey")))
    g = (j.groupBy("n_name")
         .agg(F.count(F.lit(1)).alias("n_suppliers"),
              F.sum(F.col("q").cast("decimal(38,0)")).alias("qt"),
              F.sum((F.col("q").cast("decimal(19,0)") * F.col("q"))
                    .cast("decimal(38,0)")).alias("ss"),
              F.max("q").alias("qmax")))
    return g.select(
        "n_name", "n_suppliers",
        F.col("qt").cast("long").alias("total_qty_cents"),
        (F.col("ss").cast("double")
         / (F.col("qt").cast("double") * F.col("qt").cast("double")))
        .alias("hhi"),
        (F.col("qmax").cast("double") / F.col("qt").cast("double"))
        .alias("top_share"))


def order_gap_median_by_segment(t: dict[str, DataFrame]) -> DataFrame:
    """Repeat-purchase cadence by market segment: the rank-exact
    LOWER MEDIAN of per-customer inter-order gaps (days between
    consecutive orders), plus gap count and mean — the reorder-cycle
    number demand planning keys on, robust to the one customer who
    waited three years.

    Shape: per-customer consecutive gaps via a lag window partitioned
    on o_custkey (per-customer order counts are bounded, so the
    window task size is too); the customer→segment attach is an
    equi-join on the SAME custkey hash the window just partitioned
    by (co-partitioned, no extra exchange); the median is one grouped
    prefix-sum ECDF pass (`_grouped_rank_min` — data-proportional
    buckets, no per-segment global sort). Gaps are exact integer
    days; the mean divides two exact integers once."""
    from ..functions.cache import retain
    from ..functions.prefix import _grouped_rank_min

    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey"))
    gaps = (t["orders"]
            .select("o_custkey", "o_orderkey", "o_orderdate")
            .withColumn(
                "gap",
                F.datediff(F.col("o_orderdate"),
                           F.lag("o_orderdate").over(w)))
            .where(F.col("gap").isNotNull()))
    seg = t["customer"].select(F.col("c_custkey").alias("o_custkey"),
                               F.col("c_mktsegment").alias("segment"))
    g = retain(gaps.join(seg, "o_custkey")
               .select("segment", F.col("gap").cast("long").alias("gap")))
    pts = (g.selectExpr("segment AS event_type",
                        "CAST(gap AS DOUBLE) AS _k")
           .groupBy("event_type", "_k")
           .agg(F.count(F.lit(1)).alias("c")))
    med = _grouped_rank_min(pts, {"med": "(n + 1) DIV 2"})
    tot = g.groupBy("segment").agg(F.sum("gap").alias("gap_sum"))
    return (med.selectExpr("event_type AS segment",
                           "n_rows AS n_gaps",
                           "CAST(med AS BIGINT) AS median_gap_days")
            .join(F.broadcast(tot), "segment")
            .select("segment", "n_gaps", "median_gap_days",
                    (F.col("gap_sum").cast("double") / F.col("n_gaps"))
                    .alias("mean_gap_days")))


def discount_quantity_corr_by_brand(t: dict[str, DataFrame]) -> DataFrame:
    """Per-brand Pearson correlation between line discount and
    quantity — the price-sensitivity screen ("do deeper discounts
    move more units for this brand?") merchandising runs before a
    promo calendar.

    Same exact-moment discipline as `stats_correlation`, GROUPED:
    both variables ride integer grids (discount in basis points,
    quantity in centi-units — exact), the five moment sums
    accumulate map-side-combinably in DECIMAL(38,0) (order-free),
    and the correlation is ONE double expression over those exact
    integers, written identically in the oracle. One fact shuffle
    keyed on the brand (brand space is catalog-bounded), part dim
    broadcast."""
    li = t["lineitem"].select(
        "l_partkey",
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5))
        .cast("long").alias("x"),
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
        .cast("long").alias("y"))
    j = li.join(broadcast(t["part"].select("p_partkey", "p_brand")),
                li["l_partkey"] == F.col("p_partkey"))
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = (j.groupBy("p_brand")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(d("x")).alias("sx"),
              F.sum(d("y")).alias("sy"),
              F.sum((F.col("x").cast("decimal(19,0)") * F.col("y"))
                    .cast("decimal(38,0)")).alias("sxy"),
              F.sum((F.col("x").cast("decimal(19,0)") * F.col("x"))
                    .cast("decimal(38,0)")).alias("sxx"),
              F.sum((F.col("y").cast("decimal(19,0)") * F.col("y"))
                    .cast("decimal(38,0)")).alias("syy")))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    corr = ((sxy - sx * sy / n)
            / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)))
    return m.select("p_brand", "n", corr.alias("corr_discount_qty"))


def orders_skyline_2d(t: dict[str, DataFrame]) -> DataFrame:
    """SKYLINE (Pareto frontier) of orders on (o_orderdate max,
    o_totalprice max) — "the biggest recent orders no other order
    beats on both axes", the multi-criteria shortlist operator
    (Börzsönyi et al., ICDE'01) relational engines ship as SKYLINE
    OF. An order survives iff no other order is at least as late AND
    at least as expensive with one strict.

    2D skylines reduce to a prefix max: per DISTINCT date take the
    day max price, suffix-max it over strictly later dates (the
    date frame is date-bounded — one row per order date, ~2.5k for a
    7-year fact at ANY corpus scale, so the unpartitioned window is
    the date_dim bounded-frame pattern), broadcast the ~2.5k-row
    fence table back, and keep orders equal to their day max and
    strictly above every later day's max. One scan + one broadcast
    join; never a pairwise dominance join. The core is shared with
    the streaming frontier maintenance (skyline(A ∪ B) =
    skyline(skyline(A) ∪ skyline(B)))."""
    return (_skyline_2d(t["orders"]
                        .select("o_orderkey", "o_orderdate",
                                "o_totalprice"))
            .select("o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("orderdate"),
                    "o_totalprice"))


def _skyline_2d(o: DataFrame) -> DataFrame:
    """Shared skyline core over (o_orderkey, o_orderdate,
    o_totalprice): see orders_skyline_2d for the decomposition."""
    per_day = (o.groupBy("o_orderdate")
               .agg(F.max("o_totalprice").alias("day_max")))
    w = (Window.orderBy(F.desc("o_orderdate"))
         .rowsBetween(Window.unboundedPreceding, -1))
    fences = per_day.select(
        "o_orderdate", "day_max",
        F.max("day_max").over(w).alias("later_max"))
    return (o.join(F.broadcast(fences), "o_orderdate")
            .where((F.col("o_totalprice") == F.col("day_max"))
                   & (F.col("later_max").isNull()
                      | (F.col("o_totalprice") > F.col("later_max"))))
            .select("o_orderkey", "o_orderdate", "o_totalprice"))


def priority_transition_matrix(t: dict[str, DataFrame]) -> DataFrame:
    """Order-priority TRANSITION MATRIX: for every customer's
    consecutive order pairs (date order, orderkey tie-break), how
    often priority p follows priority q — the Markov-style loyalty/
    escalation signal sequence mining starts from (exactly the
    `event_transitions` shape applied to the orders fact). One
    customer-keyed window lag + a ≤25-key count aggregate."""
    o = t["orders"].select("o_custkey", "o_orderdate", "o_orderkey",
                           "o_orderpriority")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    j = o.select(
        F.lag("o_orderpriority").over(w).alias("from_priority"),
        F.col("o_orderpriority").alias("to_priority"))
    return (j.where(F.col("from_priority").isNotNull())
            .groupBy("from_priority", "to_priority")
            .agg(F.count(F.lit(1)).alias("n_transitions")))


def late_delivery_root_cause(t: dict[str, DataFrame],
                             late_days: int = 90) -> DataFrame:
    """Late-shipment ROOT-CAUSE matrix: per (order priority, return
    flag) cell, the late-ship share (> ``late_days`` after the order
    date — the q12 lateness rule; this schema has no shipmode/
    receiptdate) and its LIFT over the global late rate — the
    drill-down a fulfilment team runs when the aggregate late rate
    moves. Exact integer counts; the global rate joins back as a
    broadcast singleton; one (priority × flag)-bounded aggregate."""
    li = (t["lineitem"]
          .join(t["orders"].select(
              F.col("o_orderkey").alias("l_orderkey"),
              "o_orderpriority", "o_orderdate"), "l_orderkey")
          .select("o_orderpriority", "l_returnflag",
                  (F.col("l_shipdate") > F.col("o_orderdate")
                   + F.expr(f"INTERVAL {late_days} DAYS"))
                  .cast("long").alias("late")))
    cells = (li.groupBy("o_orderpriority", "l_returnflag")
             .agg(F.count(F.lit(1)).alias("n_items"),
                  F.sum("late").alias("n_late")))
    tot = li.agg(F.count(F.lit(1)).alias("n_all"),
                 F.sum("late").alias("late_all"))
    rate = F.col("n_late").cast("double") / F.col("n_items")
    grate = F.col("late_all").cast("double") / F.col("n_all")
    return (cells.crossJoin(F.broadcast(tot))
            .select("o_orderpriority", "l_returnflag", "n_items",
                    "n_late", rate.alias("late_rate"),
                    (rate / grate).alias("lift")))


def supplier_part_price_spread(t: dict[str, DataFrame],
                               k: int = 25) -> DataFrame:
    """Procurement ARBITRAGE report: the k parts with the widest
    relative spread of realized per-unit price ACROSS SUPPLIERS —
    where renegotiation money lives. Per (part, supplier) the exact
    decimal unit price sums fold first (Σ extendedprice / Σ qty per
    supplier — decimal-exact numerators), then a part-keyed min/max
    over the per-supplier rates; (max − min)/min, TakeOrdered top-k,
    n_suppliers >= 2 so the spread is real."""
    li = t["lineitem"].select("l_partkey", "l_suppkey",
                              "l_extendedprice", "l_quantity")
    per_sup = (li.groupBy("l_partkey", "l_suppkey")
               .agg(dsum("l_extendedprice").alias("ext"),
                    dsum("l_quantity").alias("qty")))
    rate = F.col("ext") / F.col("qty")
    g = (per_sup.select("l_partkey", rate.alias("unit_price"))
         .groupBy("l_partkey")
         .agg(F.count(F.lit(1)).alias("n_suppliers"),
              F.min("unit_price").alias("min_price"),
              F.max("unit_price").alias("max_price")))
    spread = ((F.col("max_price") - F.col("min_price"))
              / F.col("min_price"))
    return (g.where(F.col("n_suppliers") >= 2)
            .select("l_partkey", "n_suppliers", "min_price",
                    "max_price", spread.alias("rel_spread"))
            .orderBy(F.desc("rel_spread"), F.asc("l_partkey"))
            .limit(k))


def monthly_status_mix(t: dict[str, DataFrame]) -> DataFrame:
    """Order-status mix per month (share of O/F/P within each month,
    exact counts + one division) — the fulfilment-backlog trend
    line; months-bounded key space, one map-side-combinable pass."""
    from ..functions import month_key
    g = (t["orders"]
         .groupBy(month_key("o_orderdate").alias("month"),
                  "o_orderstatus")
         .agg(F.count(F.lit(1)).alias("n_orders")))
    w = Window.partitionBy("month")
    return g.select(
        "month", "o_orderstatus", "n_orders",
        (F.col("n_orders").cast("double")
         / F.sum("n_orders").over(w)).alias("status_share"))
