"""Query registry — a_core module (mechanically split from queries.py in r03; the REGISTRY lives in the package __init__)."""


from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — resolves pandas-UDF type hints under
                     # postponed annotation evaluation

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import oracles
from ..io import clean_sentinel_numeric, load_table
from ..operators import clean, features, ml, profile, stats, temporal
from ..operators import dedup as dedup_ops
from ..operators import trees as trees_ops
from ..operators import similarity as sim_ops
from ..operators import text as text_ops

from itertools import combinations as _combos



def _per_order_brand_sets(ob: DataFrame) -> DataFrame:
    """(ok, sorted brand array) — the in-row pair/triple generator's
    source; sorting makes every emitted combination canonical."""
    return ob.groupBy("ok").agg(
        F.sort_array(F.collect_set("brand")).alias("bs"))


def _order_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, brand) basket table — the shared input of the
    co-purchase family (basket lift, item cosine, triples, triangle
    count, BFS). One broadcast dim join + one distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .select(F.col("l_orderkey").alias("ok"),
                      F.col("p_brand").alias("brand"))
              .distinct())


def _basket_pair_counts(ob: DataFrame) -> DataFrame:
    """Brand co-occurrence counts (a < b, n_ab) with pairs generated
    IN-ROW from per-order sorted arrays — bounded by C(brands-per-
    order, 2) per order, never an order-table self-join shuffle."""
    per_order = _per_order_brand_sets(ob)
    pairs_arr = F.flatten(F.transform(
        F.sequence(F.lit(0), F.size("bs") - 2),
        lambda i: F.transform(
            F.sequence(i + 1, F.size("bs") - 1),
            lambda j: F.struct(
                F.element_at(F.col("bs"), i + 1).alias("a"),
                F.element_at(F.col("bs"), j + 1).alias("b")))))
    return (per_order.where(F.size("bs") >= 2)
            .select(F.explode(pairs_arr).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("n_ab")))

# --------------------------------------------------------------------------
# A1. Group-by aggregation — flagship pricing summary (TPC-H Q1 shape).
# Reference: group_by + summarise pipelines (R:264-269).
# Scale: single shuffle, map-side partial agg, filter pushed to parquet.
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
               F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
               F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
               F.round(F.sum(charge), 4).alias("sum_charge"),
               F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
               F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
               F.round(F.avg("l_discount"), 4).alias("avg_disc"),
               F.count(F.lit(1)).alias("count_order"))
    )

Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4)                                            AS sum_qty,
       round(sum(l_extendedprice), 4)                                       AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)                    AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)      AS sum_charge,
       round(avg(l_quantity), 4)                                            AS avg_qty,
       round(avg(l_extendedprice), 4)                                       AS avg_price,
       round(avg(l_discount), 4)                                            AS avg_disc,
       count(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# A2. Sentinel-null cleaning + cast (R:122-129). The dirty column is
# synthesized deterministically so both engines see identical input.
# --------------------------------------------------------------------------

def clean_sentinel_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    dirty = (F.when(F.col("p_partkey") % 7 == 0, F.lit("-"))
              .when(F.col("p_partkey") % 11 == 0, F.lit(""))
              .otherwise(F.col("p_retailprice").cast("string")))
    df = clean_sentinel_numeric(part.withColumn("dirty_price", dirty),
                                ["dirty_price"])
    return (df.groupBy("p_brand")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.when(F.col("dirty_price").isNull(), 1)
                          .otherwise(0)).cast("long").alias("n_null"),
                   F.round(F.avg("dirty_price"), 4).alias("avg_price")))

CLEAN_SENTINEL_SQL = """
WITH dirty AS (
  SELECT p_brand,
         CASE WHEN p_partkey % 7 = 0 THEN '-'
              WHEN p_partkey % 11 = 0 THEN ''
              ELSE CAST(p_retailprice AS VARCHAR) END AS raw
  FROM part
), cleaned AS (
  SELECT p_brand,
         CAST(CASE WHEN trim(raw) IN ('', '-', 'NA', 'N/A', 'null') THEN NULL
                   ELSE raw END AS DOUBLE) AS dirty_price
  FROM dirty
)
SELECT p_brand, count(*) AS n,
       CAST(sum(CASE WHEN dirty_price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       round(avg(dirty_price), 4) AS avg_price
FROM cleaned GROUP BY p_brand
"""


# --------------------------------------------------------------------------
# A3. Distinct rows (R:165).
# --------------------------------------------------------------------------

def distinct_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (load_table(spark, sf_dir, "orders")
            .select("o_orderstatus", "o_orderpriority")
            .dropDuplicates())

DISTINCT_SQL = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


# --------------------------------------------------------------------------
# A4. Count-distinct per group (R:174-187).
# --------------------------------------------------------------------------

def distinct_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile.distinct_per_group(
        load_table(spark, sf_dir, "orders"), "o_custkey",
        ["o_orderstatus", "o_orderpriority"])

DISTINCT_PER_GROUP_SQL = """
SELECT o_custkey,
       count(DISTINCT o_orderstatus)   AS n_distinct_o_orderstatus,
       count(DISTINCT o_orderpriority) AS n_distinct_o_orderpriority
FROM orders GROUP BY o_custkey
"""


# --------------------------------------------------------------------------
# A5. Frequency / contingency table (R:228-238).
# --------------------------------------------------------------------------

def freq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile.freq_table(load_table(spark, sf_dir, "orders"),
                              ["o_orderstatus", "o_orderpriority"])

FREQ_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS freq
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


# --------------------------------------------------------------------------
# A6. Histogram (R:377).
# --------------------------------------------------------------------------

def histogram_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile.histogram(load_table(spark, sf_dir, "lineitem"),
                             "l_quantity", lo=0.0, width=5.0, n_buckets=11)

HISTOGRAM_SQL = """
SELECT CAST(least(greatest(floor(l_quantity / 5.0), 0), 10) AS BIGINT) AS bucket,
       count(*) AS n,
       round(least(greatest(floor(l_quantity / 5.0), 0), 10) * 5.0, 4) AS bucket_lo
FROM lineitem WHERE l_quantity IS NOT NULL
GROUP BY 1, 3
"""


# --------------------------------------------------------------------------
# A7. Describe / profile (R:106-111).
# --------------------------------------------------------------------------

_DESCRIBE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

def describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile.describe_table(load_table(spark, sf_dir, "lineitem"),
                                  _DESCRIBE_COLS, quartiles=True)

# quartiles = percentile_cont, the same lo+(hi-lo)·frac interpolation
# grouped_quantiles' bracket-refine computes (skim prints p25/p50/p75,
# R:106-111)
DESCRIBE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, count({c}) AS n,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       round(avg({c}), 4) AS mean, round(stddev_samp({c}), 4) AS stddev,
       round(CAST(min({c}) AS DOUBLE), 4) AS min_val,
       round(CAST(max({c}) AS DOUBLE), 4) AS max_val,
       round(percentile_cont(0.25) WITHIN GROUP
             (ORDER BY CAST({c} AS DOUBLE)), 4) AS p25,
       round(percentile_cont(0.50) WITHIN GROUP
             (ORDER BY CAST({c} AS DOUBLE)), 4) AS p50,
       round(percentile_cont(0.75) WITHIN GROUP
             (ORDER BY CAST({c} AS DOUBLE)), 4) AS p75
FROM lineitem""" for c in _DESCRIBE_COLS)


# --------------------------------------------------------------------------
# A8. Pivot-wider with zero fill (R:300-310).
# --------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIO_NAMES = ["prio_urgent", "prio_high", "prio_medium", "prio_notspec", "prio_low"]

def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pv = (orders.groupBy("o_orderstatus")
                .pivot("o_orderpriority", _PRIORITIES)
                .agg(F.sum("o_totalprice")))
    out = pv
    for raw, name in zip(_PRIORITIES, _PRIO_NAMES):
        out = out.withColumn(name,
                             F.round(F.coalesce(F.col(f"`{raw}`"), F.lit(0.0)), 4)) \
                 .drop(raw)
    return out

PIVOT_SQL = """
SELECT o_orderstatus,
       round(coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 0), 4)        AS prio_urgent,
       round(coalesce(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 0), 4)          AS prio_high,
       round(coalesce(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 0), 4)        AS prio_medium,
       round(coalesce(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 0), 4) AS prio_notspec,
       round(coalesce(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 0), 4)           AS prio_low
FROM orders GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# A9. Binning + clamping (R:290-296).
# --------------------------------------------------------------------------

def binned_part_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    binned = features.bin_clamp(part, "p_size", "size_bin",
                                scale=-1, lo=10.0, hi=40.0)
    return (binned.groupBy(F.col("size_bin").cast("double").alias("size_bin"))
                  .agg(F.count(F.lit(1)).alias("n_parts"),
                       F.round(F.avg("p_retailprice"), 4).alias("avg_retail")))

BINNED_SQL = """
SELECT CAST(greatest(least(round(p_size, -1), 40), 10) AS DOUBLE) AS size_bin,
       count(*) AS n_parts,
       round(avg(p_retailprice), 4) AS avg_retail
FROM part GROUP BY 1
"""


# --------------------------------------------------------------------------
# A10. Ratio / derived features (R:421-424) on a join-aggregate.
# --------------------------------------------------------------------------

def customer_value_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # DECIMAL(18,2) sums are EXACT (prices are 2dp), so the aggregate is
    # identical regardless of partial-aggregation order; double sums
    # accumulate in engine-specific order and flip the 4th decimal at
    # rounding boundaries.
    spend_dec = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    per_cust = (orders.groupBy("o_custkey")
                      .agg(F.count(F.lit(1)).alias("n_orders"),
                           spend_dec.cast("double").alias("spend")))
    joined = cust.join(per_cust, cust.c_custkey == per_cust.o_custkey)
    # floor(x*1e4 + 0.5)/1e4 instead of round(): sum/count lands on
    # EXACT decimal half-way ties (e.g. ….70375 at n=8) where Spark's
    # BigDecimal HALF_UP and DuckDB's float rounding disagree; the
    # floor formulation is identical double arithmetic in both engines.
    out = (joined
           .withColumn("avg_order_value",
                       F.floor(F.col("spend") / F.col("n_orders") * 10000
                               + 0.5) / 10000)
           # + 0.0 normalizes IEEE negative zero: at sf0.1 a tiny
           # negative ratio rounds to -0.0 in DuckDB and 0.0 in Spark
           # ("-0.0" != "0.0" under the canonical string compare)
           .withColumn("balance_to_spend",
                       F.when(F.col("spend") != 0,
                              F.round(F.col("c_acctbal") / F.col("spend"), 6)
                              + 0.0)))
    return out.select("c_custkey", "n_orders",
                      F.round("spend", 4).alias("total_spend"),
                      "avg_order_value", "balance_to_spend")

RATIO_SQL = """
SELECT c_custkey, count(*) AS n_orders,
       round(CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE), 4) AS total_spend,
       floor(CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_order_value,
       CASE WHEN sum(o_totalprice::DECIMAL(18,2)) <> 0
            THEN round(any_value(c_acctbal) / CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE), 6)
       END + 0.0 AS balance_to_spend
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


# --------------------------------------------------------------------------
# A11. Star join with broadcast dims (R:272,909).
# --------------------------------------------------------------------------

def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
              .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
              .groupBy("r_name", "n_name")
              .agg(F.round(F.sum(rev), 4).alias("revenue"),
                   F.count(F.lit(1)).alias("n_lineitems")))

REVENUE_NATION_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --------------------------------------------------------------------------
# A11b. Shipping-priority analytics (TPC-H Q3 shape): filter both fact
# sides before the join, aggregate to top revenue orders.
# --------------------------------------------------------------------------

def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cutoff = F.lit("1997-06-01").cast("timestamp")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.where(F.col("l_shipdate") > cutoff)
              .join(orders.where(F.col("o_orderdate") < cutoff),
                    li.l_orderkey == orders.o_orderkey)
              .join(cust.where(F.col("c_mktsegment") == "BUILDING"),
                    orders.o_custkey == cust.c_custkey)
              .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
              .agg(F.round(F.sum(rev), 4).alias("revenue")))

SHIPPING_PRIORITY_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate > TIMESTAMP '1997-06-01'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
"""


# --------------------------------------------------------------------------
# A11c. Market-share trend (TPC-H Q8 shape): conditional aggregation
# over a multi-dim star join, grouped by year.
# --------------------------------------------------------------------------

def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("r_name") == "AMERICA", rev).otherwise(F.lit(0.0))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
              .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
              .groupBy(F.year("o_orderdate").alias("order_year"))
              .agg(F.round(F.sum(target) / F.sum(rev), 6).alias("america_share"),
                   F.round(F.sum(rev), 4).alias("total_revenue")))

MARKET_SHARE_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       round(sum(CASE WHEN r_name = 'AMERICA'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS america_share,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A11d. Anti/semi joins (EXISTS / NOT EXISTS): customers who never
# ordered, and suppliers of recently-shipped parts.
# --------------------------------------------------------------------------

def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") == "1-URGENT"))
    return (cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
                .select("c_custkey", "c_mktsegment",
                        F.round("c_acctbal", 4).alias("c_acctbal")))

ANTI_JOIN_SQL = """
SELECT c_custkey, c_mktsegment, round(c_acctbal, 4) AS c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


def active_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    recent = li.where(F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp"))
    return (sup.join(recent, sup.s_suppkey == recent.l_suppkey, "left_semi")
               .select("s_suppkey", "s_name"))

SEMI_JOIN_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_suppkey = s_suppkey
                AND l_shipdate >= TIMESTAMP '2001-01-01')
"""


# --------------------------------------------------------------------------
# A11f. Date arithmetic: ship latency (days between order and ship
# date) per priority — datediff/date_part function coverage.
# --------------------------------------------------------------------------

def ship_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .groupBy("o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.avg(days), 4).alias("avg_latency_days"),
                   F.max(days).alias("max_latency_days")))

SHIP_LATENCY_SQL = """
SELECT o_orderpriority, count(*) AS n,
       round(avg(date_diff('day', o_orderdate, l_shipdate)), 4) AS avg_latency_days,
       CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS INT) AS max_latency_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# A12. Weighted mean per group (R:927-928).
# --------------------------------------------------------------------------

def weighted_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .groupBy("p_brand")
              .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                           / F.sum("l_quantity"), 4).alias("weighted_avg_price"),
                   F.round(F.sum("l_quantity"), 4).alias("total_qty")))

WEIGHTED_AVG_SQL = """
SELECT p_brand,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS weighted_avg_price,
       round(sum(l_quantity), 4) AS total_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# --------------------------------------------------------------------------
# A13/A14. Imputation: constant fill and median fill (R:352,358,942-943).
# NULLs are synthesized deterministically (negative balances).
# --------------------------------------------------------------------------

def _cust_with_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.withColumn(
        "bal", F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal")))

def impute_constant(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = clean.impute_constant(_cust_with_missing(spark, sf_dir), {"bal": 0.0})
    return (df.groupBy("c_mktsegment")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.avg("bal"), 4).alias("avg_bal")))

IMPUTE_CONST_SQL = """
SELECT c_mktsegment, count(*) AS n,
       round(avg(CASE WHEN c_acctbal >= 0 THEN c_acctbal ELSE 0 END), 4) AS avg_bal
FROM customer GROUP BY c_mktsegment
"""

def impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = clean.impute_median(_cust_with_missing(spark, sf_dir), "bal")
    return (df.groupBy("c_mktsegment")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.avg("bal"), 4).alias("avg_bal")))

IMPUTE_MEDIAN_SQL = """
WITH m AS (
  SELECT median(CASE WHEN c_acctbal >= 0 THEN c_acctbal END) AS med FROM customer
)
SELECT c_mktsegment, count(*) AS n,
       round(avg(coalesce(CASE WHEN c_acctbal >= 0 THEN c_acctbal END, med)), 4) AS avg_bal
FROM customer, m GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# A15. Group-weighted-mean imputation (R:923-940).
# --------------------------------------------------------------------------

def impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "tax_val", F.when(F.col("l_linenumber") != 1, F.col("l_tax")))
    df = clean.impute_group_weighted_mean(
        li, "l_returnflag", "tax_val", "l_quantity")
    return (df.groupBy("l_returnflag")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.avg("tax_val"), 6).alias("avg_tax_imputed")))

IMPUTE_GROUP_SQL = """
WITH t AS (
  SELECT l_returnflag, l_quantity,
         CASE WHEN l_linenumber <> 1 THEN l_tax END AS tax_val
  FROM lineitem
), w AS (
  SELECT l_returnflag,
         coalesce(tax_val,
                  sum(CASE WHEN tax_val IS NOT NULL THEN tax_val * l_quantity END)
                      OVER (PARTITION BY l_returnflag)
                  / sum(CASE WHEN tax_val IS NOT NULL THEN l_quantity END)
                      OVER (PARTITION BY l_returnflag)) AS tax_val
  FROM t
)
SELECT l_returnflag, count(*) AS n, round(avg(tax_val), 6) AS avg_tax_imputed
FROM w GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# A16. Pearson correlation matrix (R:386-392).
# --------------------------------------------------------------------------

def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.corr_matrix(load_table(spark, sf_dir, "lineitem"),
                             _DESCRIBE_COLS)
CORR_SQL = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
    f"round(covar_samp({a}, {b})"
    f" / nullif(stddev_samp({a}) * stddev_samp({b}), 0), 4) AS corr "
    f"FROM lineitem"
    for a, b in _combos(_DESCRIBE_COLS, 2))


# --------------------------------------------------------------------------
# A17. Welch t-test (R:756-762).
# --------------------------------------------------------------------------

def ttest_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.welch_ttest(load_table(spark, sf_dir, "lineitem"),
                             "l_returnflag", "l_extendedprice", "R", "A")

TTEST_SQL = """
WITH g AS (
  SELECT l_returnflag AS grp, count(*) AS n, avg(l_extendedprice) AS mean,
         var_samp(l_extendedprice) AS var
  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1
), a AS (SELECT * FROM g WHERE grp = 'R'), b AS (SELECT * FROM g WHERE grp = 'A')
SELECT 'R' AS group_a, 'A' AS group_b, a.n AS n_a, b.n AS n_b,
       round(a.mean, 4) AS mean_a, round(b.mean, 4) AS mean_b,
       round((a.mean - b.mean)
             / nullif(sqrt(a.var / a.n + b.var / b.n), 0), 4) AS t_stat,
       round(pow(a.var / a.n + b.var / b.n, 2) /
             nullif(pow(a.var / a.n, 2) / (a.n - 1)
                    + pow(b.var / b.n, 2) / (b.n - 1), 0), 4) AS df
FROM a, b
"""


# --------------------------------------------------------------------------
# A18. One-way ANOVA (R:765-772).
# --------------------------------------------------------------------------

def anova_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.anova_oneway(load_table(spark, sf_dir, "customer"),
                              "c_mktsegment", "c_acctbal")

ANOVA_SQL = """
WITH g AS (
  SELECT c_mktsegment, count(c_acctbal) AS n_g, avg(c_acctbal) AS mean_g,
         var_samp(c_acctbal) AS var_g
  FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1
), gm AS (
  SELECT sum(n_g * mean_g) / sum(n_g) AS grand_mean FROM g
), t AS (
  SELECT sum(n_g) AS n, count(*) AS k,
         sum(n_g * (mean_g - grand_mean) * (mean_g - grand_mean)) AS ssb,
         sum((n_g - 1) * var_g) AS ssw
  FROM g, gm
)
SELECT CAST(n AS BIGINT) AS n_obs, k AS n_groups,
       round(ssb, 4) AS ss_between,
       round(ssw, 4) AS ss_within,
       round((ssb / nullif(k - 1, 0))
             / nullif(ssw / nullif(n - k, 0), 0), 4) AS f_stat
FROM t
"""


# --------------------------------------------------------------------------
# A18c. Chi-square independence test (contingency-table EDA, R:228-238).
# --------------------------------------------------------------------------

def chisq_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.chisq_independence(load_table(spark, sf_dir, "orders"),
                                    "o_orderstatus", "o_orderpriority")

CHISQ_SQL = """
WITH obs AS (
  SELECT o_orderstatus a, o_orderpriority b, count(*) AS obs
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
  GROUP BY 1, 2
), cell AS (
  SELECT obs,
         sum(obs) OVER (PARTITION BY a) AS row_tot,
         sum(obs) OVER (PARTITION BY b) AS col_tot,
         sum(obs) OVER () AS n, a, b
  FROM obs
)
SELECT CAST(max(n) AS BIGINT) AS n,
       count(DISTINCT a) AS n_a, count(DISTINCT b) AS n_b,
       round(sum(pow(obs - row_tot * col_tot / n, 2)
                 / (row_tot * col_tot / n)), 4) AS chi2,
       (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof
FROM cell
"""


# --------------------------------------------------------------------------
# A18b. Residual diagnostics: Jarque-Bera (R:601), Durbin-Watson
# (R:593), Breusch-Pagan (R:614) from fused moment aggregates.
# --------------------------------------------------------------------------

def residual_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.residual_diagnostics(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity", "l_extendedprice", ["l_orderkey", "l_linenumber"])

RESIDUAL_DIAG_SQL = """
WITH fit AS (
  SELECT covar_pop(l_quantity, l_extendedprice)
           / nullif(var_pop(l_quantity), 0) AS slope,
         avg(l_extendedprice) AS my, avg(l_quantity) AS mx
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), r AS (
  -- the residual is the final ORDER BY tiebreaker: the testdata has
  -- duplicate (l_orderkey, l_linenumber) keys, and without it the DW
  -- lag pairing is tie-order-ambiguous (mirrors the Spark side)
  SELECT l_extendedprice - (my + slope * (l_quantity - mx)) AS e, l_quantity,
         l_extendedprice,
         lag(l_extendedprice - (my + slope * (l_quantity - mx)))
           OVER (ORDER BY l_orderkey, l_linenumber,
                 l_extendedprice - (my + slope * (l_quantity - mx)))
           AS elag
  FROM lineitem, fit
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), m AS (
  SELECT count(*) AS n, avg(e) AS m1,
         -- relative noise floor mirrors stats.noise_floor: a
         -- near-exact fit leaves e at fp-roundoff of the response
         CASE WHEN avg(e*e) > 1e-24 * avg(l_extendedprice
                                          * l_extendedprice)
              THEN avg(e*e) END AS m2,
         avg(e*e*e) AS m3,
         avg(e*e*e*e) AS m4,
         sum(CASE WHEN elag IS NOT NULL THEN (e - elag) * (e - elag) END) AS sdiff,
         sum(e*e) AS se2,
         covar_samp(e*e, l_quantity)
           / nullif(stddev_samp(e*e) * stddev_samp(l_quantity), 0)
           AS r_e2x
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       round(m3 / nullif(pow(m2, 1.5), 0), 4) AS skewness,
       round(m4 / nullif(m2 * m2, 0) - 3, 4) AS ex_kurtosis,
       round(n / 6.0 * (pow(m3 / nullif(pow(m2, 1.5), 0), 2)
             + pow(m4 / nullif(m2 * m2, 0) - 3, 2) / 4), 4)
         AS jarque_bera,
       round(sdiff / nullif(se2, 0), 4) AS durbin_watson,
       round(n * r_e2x * r_e2x, 4) AS breusch_pagan
FROM m
"""


# --------------------------------------------------------------------------
# A15b. Per-group standardization (z-score) — the reference's per-group
# normalize pattern (R's group_split + map, and the classic grouped-map
# pandas-UDF example) done Spark-first: a window, no Python. The
# applyInPandas equivalent is unit-tested against this in
# tests/test_operators_unit.py for API parity.
# --------------------------------------------------------------------------

def zscore_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group standardization via a tiny stats aggregate broadcast
    back — an unordered window PARTITION BY segment would route every
    row of a segment through one WindowExec task (5 segments = 5 tasks
    regardless of cluster size)."""
    cust = load_table(spark, sf_dir, "customer")
    st = (cust.groupBy("c_mktsegment")
              .agg(F.avg("c_acctbal").alias("__mu"),
                   F.stddev_samp("c_acctbal").alias("__sd")))
    # nullif: a constant segment has sd = 0 — z undefined => NULL,
    # never an ANSI DIVIDE_BY_ZERO job abort
    return (cust.join(F.broadcast(st), "c_mktsegment")
                .select("c_custkey", "c_mktsegment",
                        F.round((F.col("c_acctbal") - F.col("__mu"))
                                / F.nullif(F.col("__sd"), F.lit(0.0)),
                                4).alias("bal_z")))

ZSCORE_SQL = """
SELECT c_custkey, c_mktsegment,
       round((c_acctbal - avg(c_acctbal) OVER w)
             / nullif(stddev_samp(c_acctbal) OVER w, 0), 4) AS bal_z
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment)
"""


# --------------------------------------------------------------------------
# A19. Deterministic stratified split (R:962-989).
# --------------------------------------------------------------------------

def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    tagged = ml.stratified_split(load_table(spark, sf_dir, "customer"),
                                 "c_mktsegment", "c_custkey", 0.8)
    return (tagged.groupBy("c_mktsegment", "split")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.round(F.avg("c_acctbal"), 4).alias("avg_bal")))

SPLIT_SQL = """
WITH r AS (
  SELECT c_mktsegment, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn,
         count(*) OVER (PARTITION BY c_mktsegment) AS n_tot
  FROM customer
)
SELECT c_mktsegment,
       CASE WHEN rn <= ceil(n_tot * 0.8) THEN 'training' ELSE 'test' END AS split,
       count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
FROM r GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# A20. Simple linear regression (R:740).
# --------------------------------------------------------------------------

def simple_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ml.simple_linreg(load_table(spark, sf_dir, "lineitem"),
                            "l_quantity", "l_extendedprice")

LINREG_SQL = """
SELECT count(*) AS n,
       round(covar_pop(l_quantity, l_extendedprice)
             / nullif(var_pop(l_quantity), 0), 4) AS slope,
       round(avg(l_extendedprice)
             - covar_pop(l_quantity, l_extendedprice)
               / nullif(var_pop(l_quantity), 0) * avg(l_quantity), 4)
         AS intercept,
       round(covar_pop(l_quantity, l_extendedprice)
             / nullif(sqrt(var_pop(l_quantity)
                           * var_pop(l_extendedprice)), 0), 4) AS r
FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
"""


# --------------------------------------------------------------------------
# A20b. Correlation significance test (R:739's cor.test):
# t = r·sqrt((n-2)/(1-r²)).
# --------------------------------------------------------------------------

def corr_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.where(F.col("l_quantity").isNotNull()
                   & F.col("l_extendedprice").isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        stats.safe_corr("l_quantity", "l_extendedprice").alias("r_raw"))
    # nullif: |r| = 1 zeroes 1 − r² — t undefined => NULL, never an
    # ANSI abort (safe_corr already NULLs the constant-column case)
    t = F.col("r_raw") * F.sqrt((F.col("n") - 2) /
                                F.nullif(1 - F.col("r_raw")
                                         * F.col("r_raw"), F.lit(0.0)))
    return agg.select(F.col("n"),
                      F.round("r_raw", 4).alias("r"),
                      F.round(t, 4).alias("t_stat"))

CORR_TEST_SQL = """
WITH a AS (
  SELECT count(*) AS n,
         covar_samp(l_quantity, l_extendedprice)
           / nullif(stddev_samp(l_quantity)
                    * stddev_samp(l_extendedprice), 0) AS r_raw
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
)
SELECT n, round(r_raw, 4) AS r,
       round(r_raw * sqrt((n - 2) / nullif(1 - r_raw * r_raw, 0)), 4)
         AS t_stat
FROM a
"""


# --------------------------------------------------------------------------
# A21. Multivariate OLS via normal equations (R:1194) — sufficient
# statistics in one pass; k×k solve on driver. Non-SQL (rows-only check).
# --------------------------------------------------------------------------

def ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ml.ols_fit_df(load_table(spark, sf_dir, "lineitem"),
                         ["l_quantity", "l_discount"], "l_extendedprice")


def lasso_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LASSO coefficients (R:1248's glmnet capability) — one scan for
    sufficient statistics, coordinate descent on the driver."""
    return ml.lasso_fit_df(load_table(spark, sf_dir, "lineitem"),
                           ["l_quantity", "l_discount", "l_tax"],
                           "l_extendedprice", lam=0.1)


def stepwise_aic_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward stepwise-AIC feature selection (R:632) from one Gram pass."""
    return ml.stepwise_aic(load_table(spark, sf_dir, "lineitem"),
                           ["l_quantity", "l_discount", "l_tax",
                            "l_partkey"], "l_extendedprice")


def rf_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-forest importances (R:1260) via the deterministic
    histogram-split forest (operators/trees.py) — hash-based Poisson
    bootstrap + exact integer split stats make the output partition-
    independent, so it carries an expected-parquet oracle (VERDICT r02
    ask #3; MLlib's partition-seeded bootstrap could not)."""
    model = trees_ops.fit_random_forest(
        load_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_discount", "l_tax"], "l_extendedprice",
        n_trees=10, max_depth=4)
    return trees_ops.importance_df(model, spark)


# --------------------------------------------------------------------------
# A22. PCA explained variance (R:537) — rows-only check.
# --------------------------------------------------------------------------

def pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ml.pca_explained_variance(load_table(spark, sf_dir, "lineitem"),
                                     _DESCRIBE_COLS)


def pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PC scores for each row (R:569) — loadings folded into a codegen'd
    linear map; sign fixed so the projection is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    proj = ml.pca_project(li, _DESCRIBE_COLS, n_components=2)
    return proj.select("l_orderkey", "l_linenumber",
                       F.abs("pc1").alias("abs_pc1"),
                       F.abs("pc2").alias("abs_pc2"))


# --------------------------------------------------------------------------
# A23. Regression evaluation metrics (R:1291-1315).
# --------------------------------------------------------------------------

def eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return ml.eval_metrics(li, "l_extendedprice",
                           F.col("l_quantity") * F.lit(1000.0))

EVAL_SQL = """
WITH e AS (
  SELECT l_extendedprice AS y, l_quantity * 1000.0 AS p FROM lineitem
)
SELECT count(*) AS n,
       round(sqrt(avg((y - p) * (y - p))), 4) AS rmse,
       round(avg(abs((y - p) / nullif(y, 0))), 4) AS mape,
       -- relative-epsilon SST guard mirrors ml.noise_floor
       round(1.0 - sum((y - p) * (y - p))
             / (CASE WHEN sum(y * y) - sum(y) * sum(y) / count(*)
                          > 1e-12 * sum(y * y)
                THEN sum(y * y) - sum(y) * sum(y) / count(*) END), 4)
         AS r2
FROM e
"""


# --------------------------------------------------------------------------
# A24. Top-k per group (window).
# --------------------------------------------------------------------------

def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (orders.withColumn("rk", F.row_number().over(w))
                  .where(F.col("rk") <= 3)
                  .select("o_custkey", "o_orderkey",
                          F.round("o_totalprice", 4).alias("o_totalprice"), "rk"))

TOPK_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


# --------------------------------------------------------------------------
# A25. Rollup subtotals.
# --------------------------------------------------------------------------

def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum(rev), 4).alias("revenue"),
                   F.count(F.lit(1)).alias("n")))

ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------------------
# A27. VIF (R:527) — rows-only check.
# --------------------------------------------------------------------------

def vif_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ml.vif_scores(load_table(spark, sf_dir, "lineitem"),
                         _DESCRIBE_COLS)


# --------------------------------------------------------------------------
# A4b. Sketch-based distinct counting (HyperLogLog) — the 100 TB answer
# to COUNT(DISTINCT); sketch internals are engine-specific → rows-only.
# --------------------------------------------------------------------------

def sketch_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
              .agg(F.approx_count_distinct("l_partkey", 0.02)
                    .alias("approx_parts"),
                   F.count(F.lit(1)).alias("n")))


# --------------------------------------------------------------------------
# A34. Order-count distribution (TPC-H Q13 shape): left outer join with a
# compound join condition, two-level aggregation. The second groupBy is
# over a tiny domain (distinct counts), so the second shuffle is cheap.
# Reference parity: frequency-of-frequencies EDA (`table(table(x))`).
# --------------------------------------------------------------------------

def custdist_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != F.lit("1-URGENT")),
            "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))

CUSTDIST_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
"""


# --------------------------------------------------------------------------
# A35. Large-volume customers (TPC-H Q18 shape): HAVING-filtered
# aggregation joined back to the fact tables. The filtered aggregate is
# tiny, so AQE turns the join into a broadcast at runtime.
# --------------------------------------------------------------------------

def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
             .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
             .where(F.col("sum_qty") > 300))
    return (orders.join(big, orders.o_orderkey == big.l_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                    F.round("o_totalprice", 4).alias("o_total"),
                    "sum_qty"))

LARGE_VOLUME_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(o_totalprice, 4) AS o_total, sum_qty
FROM (
  SELECT l_orderkey, round(sum(l_quantity), 4) AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 4) > 300
) big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --------------------------------------------------------------------------
# A36. Week-over-week revenue deltas: time-bucketed aggregation followed
# by a lag window. The window is over the *aggregated* series (one row
# per week), so the unpartitioned sort is over a few hundred rows, not
# the fact table — the scale-safe way to do global time-series windows.
# --------------------------------------------------------------------------

def weekly_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    weekly = (orders.groupBy(
                  F.date_trunc("week", F.col("o_orderdate")).alias("wk"))
              .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue")))
    prev = F.lag("revenue").over(Window.orderBy("wk"))
    return weekly.select(
        "wk", "revenue",
        F.round(F.col("revenue") - prev, 4).alias("wow_delta"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias("wow_pct"))

WEEKLY_WOW_SQL = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS wk,
         round(sum(o_totalprice), 4) AS revenue
  FROM orders
  GROUP BY 1
)
SELECT wk, revenue,
       round(revenue - lag(revenue) OVER (ORDER BY wk), 4) AS wow_delta,
       round((revenue - lag(revenue) OVER (ORDER BY wk))
             / lag(revenue) OVER (ORDER BY wk) * 100, 4)   AS wow_pct
FROM weekly
"""


# --------------------------------------------------------------------------
# A37. Set operations: INTERSECT (customers active in both years) and
# EXCEPT (customers active in 1995 but lapsed in 1996). Both are
# hash-distinct set ops — one shuffle each side on the set key.
# --------------------------------------------------------------------------

def setop_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    y95 = (orders.where(F.year("o_orderdate") == 1995)
                 .select("o_custkey"))
    y96 = (orders.where(F.year("o_orderdate") == 1996)
                 .select("o_custkey"))
    return y95.intersect(y96)

SETOP_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""


def setop_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    y95 = (orders.where(F.year("o_orderdate") == 1995)
                 .select("o_custkey"))
    y96 = (orders.where(F.year("o_orderdate") == 1996)
                 .select("o_custkey"))
    return y95.subtract(y96)

SETOP_EXCEPT_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""


# --------------------------------------------------------------------------
# A38. Correlated-subquery pattern: orders above their own customer's
# average. Decorrelated into a partition window (one shuffle on
# o_custkey) rather than a self-join — the classic rewrite Catalyst
# would also pick for a correlated scalar subquery.
# --------------------------------------------------------------------------

def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # "above own average" is evaluated EXACTLY: p*n > sum over decimals.
    # A float window-avg threshold is summation-order-dependent, so a row
    # sitting on the boundary can flip with the partitioning (observed as
    # a flaky oracle mismatch); decimal arithmetic has no boundary fuzz.
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    enriched = (orders.withColumn("cust_sum", F.sum(p).over(w))
                      .withColumn("cust_n", F.count(F.lit(1)).over(w)))
    return (enriched.where(p * F.col("cust_n") > F.col("cust_sum"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_above"),
                 F.round(F.sum(p).cast("double") / F.count(F.lit(1)), 4)
                  .alias("avg_price_above")))

ABOVE_AVG_SQL = """
SELECT o_orderpriority, count(*) AS n_above,
       round(CAST(sum(p) AS DOUBLE) / count(*), 4) AS avg_price_above
FROM (
  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         sum(CAST(o_totalprice AS DECIMAL(18,2)))
           OVER (PARTITION BY o_custkey) AS s,
         count(*) OVER (PARTITION BY o_custkey) AS n
  FROM orders
)
WHERE p * n > s
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# A39. NTILE decile profile of customer balances. The global ntile is
# an intentionally single-partition sort (deterministic total order via
# the custkey tiebreak); the scale path swaps it for approx_percentile
# cut points + a broadcast bin join — same output contract.
# --------------------------------------------------------------------------

def acctbal_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) semantics without the single-task global window: a
    global row number assembled from range-partitioned per-partition
    row numbers + broadcast partition offsets (the deterministic
    (acctbal, custkey) order makes every row unique), then NTILE's
    exact bucket arithmetic — first n%10 buckets get one extra row —
    in integer math. Bucket boundaries match the window ntile
    row-for-row at any parallelism."""
    cust = load_table(spark, sf_dir, "customer")
    d = (cust.select("c_acctbal", "c_custkey")
             .repartitionByRange(F.col("c_acctbal"), F.col("c_custkey"))
             .withColumn("__pid", F.spark_partition_id()))
    wl = Window.partitionBy("__pid").orderBy("c_acctbal", "c_custkey")
    local = d.withColumn("__rn", F.row_number().over(wl)) \
             .localCheckpoint(eager=True)  # pin ONE evaluation (__pid
    # offset-join class fix, round 5 — see stats.tie_avg_ranks)
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    off = (local.groupBy("__pid").agg(F.max("__rn").alias("__t"))
           .withColumn("__off", F.coalesce(F.sum("__t").over(wo), F.lit(0))))
    tot = off.agg(F.sum("__t").alias("__n"))
    r = F.col("__off") + F.col("__rn")
    q, rem = F.col("__n") / 10, F.col("__n") % 10  # integer div (longs)
    q = F.floor(q)
    cutoff = rem * (q + 1)
    decile = (F.when(F.col("__n") < 10, r)
               .when(r <= cutoff, F.floor((r + q) / (q + 1)))
               .otherwise(rem + F.floor((r - cutoff + q - 1) / q)))
    return (local.join(F.broadcast(off.select("__pid", "__off")), "__pid")
            .crossJoin(F.broadcast(tot))
            .withColumn("decile", decile.cast("int"))
            .groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("c_acctbal"), 4).alias("lo"),
                 F.round(F.max("c_acctbal"), 4).alias("hi"),
                 F.round(F.avg("c_acctbal"), 4).alias("avg_bal")))

DECILES_SQL = """
SELECT decile, count(*) AS n,
       round(min(c_acctbal), 4) AS lo,
       round(max(c_acctbal), 4) AS hi,
       round(avg(c_acctbal), 4) AS avg_bal
FROM (
  SELECT c_acctbal,
         ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
  FROM customer
)
GROUP BY decile
"""


# --------------------------------------------------------------------------
# A40. Array aggregation: collect each customer's order priorities into
# a sorted list, serialized with array_join so the output is a scalar
# column (engine-portable). collect_list alone is order-nondeterministic
# — the sort_array is what makes the result well-defined.
# --------------------------------------------------------------------------

def customer_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (orders.groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.array_join(
                     F.sort_array(F.collect_list("o_orderpriority")), ",")
                  .alias("priorities")))

PRIORITY_HISTORY_SQL = """
SELECT o_custkey, count(*) AS n_orders,
       array_to_string(list_sort(list(o_orderpriority)), ',') AS priorities
FROM orders
GROUP BY o_custkey
"""


# --------------------------------------------------------------------------
# A18d. Kruskal-Wallis rank test (nonparametric ANOVA) — rank-based
# group comparison without normality assumptions, complementing A17/A18.
#
# Scale design: ranks are NEVER assigned per row. Tie-averaged ranks
# are computed on the DISTINCT-value table (groupBy value → cumulative
# count window), then joined back to per-(group, value) counts. The
# only sort is over distinct values — typically orders of magnitude
# smaller than the fact table. All rank sums are half-integers, so the
# double arithmetic is exact and engine-order-independent until the
# final division.
# --------------------------------------------------------------------------

def kruskal_acctbal_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_mktsegment", "c_acctbal")
            .where(F.col("c_acctbal").isNotNull()))
    vals = cust.groupBy("c_acctbal").agg(F.count(F.lit(1)).alias("t"))
    # range-partitioned ranks: acctbal is near-unique, so the distinct
    # table is customer-sized — a global window would be one task
    ranked = stats.tie_avg_ranks(vals, "c_acctbal", "t")
    per = (cust.groupBy("c_mktsegment", "c_acctbal")
           .agg(F.count(F.lit(1)).alias("n_vg")))
    grp = (per.join(ranked.select("c_acctbal", "avg_rank"), "c_acctbal")
           .groupBy("c_mktsegment")
           .agg(F.sum(F.col("avg_rank") * F.col("n_vg")).alias("rg"),
                F.sum("n_vg").alias("ng")))
    tot = grp.agg(F.sum("ng").alias("n"),
                  F.count(F.lit(1)).alias("k"),
                  F.sum(F.col("rg") * F.col("rg") / F.col("ng")).alias("s"))
    ties = vals.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
         .alias("tie3"))
    n, k, s, tie3 = F.col("n"), F.col("k"), F.col("s"), F.col("tie3")
    # nullif: an ALL-TIED column has tie3 = n³−n, zeroing the tie
    # correction — H is undefined and must come back NULL, not as an
    # ANSI DIVIDE_BY_ZERO job abort (same guard as the A18db twin)
    h = ((F.lit(12.0) * s / (n * (n + 1)) - 3 * (n + 1))
         / F.nullif(1 - tie3 / F.nullif((n * n * n - n).cast("double"),
                                        F.lit(0.0)),
                    F.lit(0.0)))
    return tot.crossJoin(ties).select(n, k, F.round(h, 4).alias("h_stat"))

KRUSKAL_SQL = """
WITH c AS (
  SELECT c_mktsegment, c_acctbal FROM customer WHERE c_acctbal IS NOT NULL
), vals AS (
  SELECT c_acctbal, count(*) AS t FROM c GROUP BY c_acctbal
), ranked AS (
  SELECT c_acctbal, t,
         sum(t) OVER (ORDER BY c_acctbal
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM vals
), r2 AS (
  SELECT c_acctbal, cum - t + (t + 1) / 2.0 AS avg_rank FROM ranked
), per AS (
  SELECT c_mktsegment, c_acctbal, count(*) AS n_vg FROM c GROUP BY 1, 2
), grp AS (
  SELECT c_mktsegment, sum(avg_rank * n_vg) AS rg,
         CAST(sum(n_vg) AS BIGINT) AS ng
  FROM per JOIN r2 USING (c_acctbal) GROUP BY 1
), tot AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n, count(*) AS k,
         sum(rg * rg / ng) AS s
  FROM grp
), ties AS (
  SELECT CAST(sum(t*t*t - t) AS BIGINT) AS tie3 FROM vals
)
SELECT n, k,
       round((12.0 * s / (n * (n + 1)) - 3 * (n + 1))
             / nullif(1 - tie3 / nullif(CAST(n*n*n - n AS DOUBLE), 0), 0),
             4) AS h_stat
FROM tot, ties
"""


# --------------------------------------------------------------------------
# A41. Cheapest supplier per part (TPC-H Q2 shape, adapted: no partsupp
# table, so the supply price comes from observed lineitem unit prices).
# The correlated "min cost per part" subquery is decorrelated into a
# row_number window over the (part, supplier) aggregate — one shuffle,
# no self-join; ties break on suppkey so the argmin is deterministic.
# --------------------------------------------------------------------------

def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    # argmin as min(struct(price, suppkey)): lexicographic struct-min is
    # the (min price, then min suppkey) frontier in ONE shuffle — no
    # second exchange + sort for a row_number window
    per = (li.select("l_partkey",
                     F.struct((F.col("l_extendedprice") / F.col("l_quantity"))
                              .alias("bp"),
                              F.col("l_suppkey").alias("sk")).alias("m"))
             .groupBy("l_partkey").agg(F.min("m").alias("m")))
    best = per.select("l_partkey", F.col("m.bp").alias("bp"),
                      F.col("m.sk").alias("l_suppkey"))
    return (best.join(part.where(F.col("p_size") <= 15),
                      F.col("l_partkey") == F.col("p_partkey"))
                .join(F.broadcast(supp),
                      F.col("l_suppkey") == F.col("s_suppkey"))
                # floor(x*1e4+0.5): round() half-way ties diverge between
                # engines on unit-price quotients that land exactly on 5
                .select("p_partkey", "p_name", "s_name",
                        (F.floor(F.col("bp") * 1e4 + 0.5) / 1e4)
                        .alias("best_price")))

CHEAPEST_SUPPLIER_SQL = """
WITH per AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS bp
  FROM lineitem GROUP BY 1, 2
), best AS (
  SELECT l_partkey, l_suppkey, bp,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY bp, l_suppkey) AS rn
  FROM per
)
SELECT p_partkey, p_name, s_name, floor(bp * 1e4 + 0.5) / 1e4 AS best_price
FROM best
JOIN part ON p_partkey = l_partkey AND p_size <= 15
JOIN supplier ON s_suppkey = l_suppkey
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# A42. Sole-late-supplier blame (TPC-H Q21 shape, adapted: lateness is
# shipdate > orderdate + 90 days since the schema has no commit/receipt
# dates). The EXISTS / NOT-EXISTS pair is decorrelated into two window
# aggregates over ONE l_orderkey shuffle instead of two self-joins.
# --------------------------------------------------------------------------

def sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late = (F.col("l_shipdate") >
            F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).cast("int")
    per = (li.join(orders.where(F.col("o_orderstatus") == "F"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("l_orderkey", "l_suppkey")
             .agg(F.max(late).alias("late")))
    w = Window.partitionBy("l_orderkey")
    flagged = (per.withColumn("n_supp", F.count("*").over(w))
                  .withColumn("n_late", F.sum("late").over(w)))
    return (flagged.where((F.col("late") == 1) & (F.col("n_supp") > 1)
                          & (F.col("n_late") == 1))
                   .groupBy("l_suppkey")
                   .agg(F.count("*").alias("numwait"))
                   .join(F.broadcast(supp),
                         F.col("l_suppkey") == F.col("s_suppkey"))
                   .select("s_name", "numwait")
                   .orderBy(F.col("numwait").desc(), "s_name")
                   .limit(10))

SOLE_LATE_SQL = """
WITH per AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2
), flagged AS (
  SELECT *,
         count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         sum(late) OVER (PARTITION BY l_orderkey) AS n_late
  FROM per
)
SELECT s_name, count(*) AS numwait
FROM flagged JOIN supplier ON s_suppkey = l_suppkey
WHERE late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 10
"""


# --------------------------------------------------------------------------
# A43. Idle high-balance customers (TPC-H Q22 shape, adapted: grouped by
# market segment since the schema has no phone column; "idle" = no order
# since 2000, mirroring Q22's recent-order window). Scalar-subquery
# threshold (avg positive balance) arrives as a broadcast one-row cross
# join; the NOT EXISTS is a left_anti join whose date filter pushes to
# the orders scan. The threshold divides an EXACT decimal sum so the
# comparison is bit-identical across engines.
# --------------------------------------------------------------------------

def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    thr = (cust.where(F.col("c_acctbal") > 0)
               .agg((F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                      .cast("double") / F.count("*")).alias("ab")))
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return (cust.crossJoin(F.broadcast(thr))
                .where(F.col("c_acctbal") > F.col("ab"))
                .join(recent, F.col("c_custkey") == F.col("o_custkey"),
                      "left_anti")
                .groupBy("c_mktsegment")
                .agg(F.count("*").alias("numcust"),
                     F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                              .cast("double"), 2).alias("totacctbal")))

IDLE_RICH_SQL = """
WITH thr AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         / count(*) AS ab
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, count(*) AS numcust,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS totacctbal
FROM customer CROSS JOIN thr
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A44. Box-plot outlier fences per segment (reference draws boxplots,
# R:377): Tukey 1.5*IQR fences and whiskers. Two passes: a tiny exact-
# percentile aggregate broadcast back onto the table, then one
# conditional aggregate — the big side shuffles once, for the group agg.
# At 100 TB swap percentile() for approx_percentile and the plan is
# unchanged.
# --------------------------------------------------------------------------

def outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # raw pruned projection, NOT checkpointed: replayed lineage is a
    # bare 2-column scan (see quantile_summary)
    proj = cust.select("c_mktsegment", "c_acctbal")
    # exact quartiles via bracket-refine — no per-group sort buffers
    q = stats.grouped_quantiles(proj, "c_mktsegment", "c_acctbal",
                                [0.25, 0.75], ["q1", "q3"])
    fences = q.select(
        "c_mktsegment",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"))
    x = F.col("c_acctbal")
    return (proj.join(F.broadcast(fences), "c_mktsegment")
                .groupBy("c_mktsegment")
                .agg(F.round(F.min("lo"), 4).alias("fence_lo"),
                     F.round(F.min("hi"), 4).alias("fence_hi"),
                     F.sum(((x < F.col("lo")) | (x > F.col("hi")))
                           .cast("int")).cast("long").alias("n_outliers"),
                     F.round(F.min(F.when(x >= F.col("lo"), x)), 4)
                      .alias("whisker_lo"),
                     F.round(F.max(F.when(x <= F.col("hi"), x)), 4)
                      .alias("whisker_hi")))

OUTLIER_FENCES_SQL = """
WITH q AS (
  SELECT c_mktsegment,
         quantile_cont(c_acctbal, 0.25) AS q1,
         quantile_cont(c_acctbal, 0.75) AS q3
  FROM customer GROUP BY 1
), f AS (
  SELECT c_mktsegment, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
  FROM q
)
SELECT c_mktsegment,
       round(min(lo), 4) AS fence_lo, round(min(hi), 4) AS fence_hi,
       CAST(sum(CASE WHEN c_acctbal < lo OR c_acctbal > hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(min(CASE WHEN c_acctbal >= lo THEN c_acctbal END), 4)
         AS whisker_lo,
       round(max(CASE WHEN c_acctbal <= hi THEN c_acctbal END), 4)
         AS whisker_hi
FROM customer JOIN f USING (c_mktsegment)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A45. Fuzzy name matching via Levenshtein distance, blocked by brand.
# The self-join key (p_brand) is the blocking strategy: candidate pairs
# are generated per block, never all-pairs over the table; a length-band
# predicate (|len a - len b| <= max dist, implied by the distance bound)
# prunes pairs before the O(len^2) distance kernel runs. At scale,
# tighten blocks with a length-bucket compound key.
# --------------------------------------------------------------------------

def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand",
                                                 "p_name")
    a, b = p.alias("a"), p.alias("b")
    pairs = (a.join(b, (F.col("a.p_brand") == F.col("b.p_brand"))
                    & (F.col("a.p_partkey") < F.col("b.p_partkey"))
                    & (F.abs(F.length(F.col("a.p_name"))
                             - F.length(F.col("b.p_name"))) <= 4))
              .withColumn("dist",
                          F.levenshtein(F.col("a.p_name"), F.col("b.p_name")))
              .where((F.col("dist") >= 1) & (F.col("dist") <= 4)))
    return (pairs.groupBy(F.col("a.p_brand").alias("p_brand"))
                 .agg(F.count("*").alias("n_pairs"),
                      F.round(F.avg("dist"), 4).alias("avg_dist")))

FUZZY_NAMES_SQL = """
SELECT p_brand, count(*) AS n_pairs, round(avg(d), 4) AS avg_dist
FROM (
  SELECT a.p_brand AS p_brand, levenshtein(a.p_name, b.p_name) AS d
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
) WHERE d BETWEEN 1 AND 4
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A48. Null-safe join semantics (<=> / IS NOT DISTINCT FROM): group
# counts joined across two derivations where the key can be NULL —
# an equi-join drops the NULL-key groups silently; the null-safe
# comparator keeps them matched. Still hash-partitionable (NULL is one
# key), so the plan is a normal shuffled hash join, not a BNLJ.
# --------------------------------------------------------------------------

def nullsafe_segment_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    key = F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY"))
    pos = (cust.where(F.col("c_acctbal") > 0).groupBy(key.alias("seg"))
               .agg(F.count(F.lit(1)).alias("n_pos")))
    neg = (cust.where(F.col("c_acctbal") <= 0).groupBy(key.alias("seg"))
               .agg(F.count(F.lit(1)).alias("n_neg")))
    return (pos.join(neg, pos["seg"].eqNullSafe(neg["seg"]))
               .select(pos["seg"].alias("seg"), "n_pos", "n_neg"))

NULLSAFE_SQL = """
WITH pos AS (
  SELECT nullif(c_mktsegment, 'MACHINERY') AS seg, count(*) AS n_pos
  FROM customer WHERE c_acctbal > 0 GROUP BY 1
), neg AS (
  SELECT nullif(c_mktsegment, 'MACHINERY') AS seg, count(*) AS n_neg
  FROM customer WHERE c_acctbal <= 0 GROUP BY 1
)
SELECT pos.seg AS seg, n_pos, n_neg
FROM pos JOIN neg ON pos.seg IS NOT DISTINCT FROM neg.seg
"""


# --------------------------------------------------------------------------
# A49. Data-quality gate: expectation rules over lineitem evaluated in
# one fused aggregate (violations = predicate false OR null), plus a
# key-uniqueness check. The load-gating artifact of an ETL pipeline.
# --------------------------------------------------------------------------

def dq_lineitem_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rules = [
        ("qty_in_range", F.col("l_quantity").between(1, 50)),
        ("price_positive", F.col("l_extendedprice") > 0),
        ("discount_unit_interval", F.col("l_discount").between(0, 1)),
        ("shipdate_not_null", F.col("l_shipdate").isNotNull()),
        ("returnflag_domain", F.col("l_returnflag").isin("A", "N", "R")),
    ]
    return profile.validate(li, rules,
                            unique_keys=[["l_orderkey", "l_linenumber"]])

DQ_LINEITEM_SQL = """
WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
SELECT 'qty_in_range' AS rule,
       CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
            AS BIGINT) AS n_violations, min(n_rows) AS n_rows
FROM lineitem, n
UNION ALL
SELECT 'price_positive',
       CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT),
       min(n_rows)
FROM lineitem, n
UNION ALL
SELECT 'discount_unit_interval',
       CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END)
            AS BIGINT), min(n_rows)
FROM lineitem, n
UNION ALL
SELECT 'shipdate_not_null',
       CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END)
            AS BIGINT), min(n_rows)
FROM lineitem, n
UNION ALL
SELECT 'returnflag_domain',
       CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END)
            AS BIGINT), min(n_rows)
FROM lineitem, n
UNION ALL
SELECT 'unique_l_orderkey_l_linenumber',
       (SELECT count(*) FROM lineitem)
         - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber
                                  FROM lineitem)),
       min(n_rows)
FROM n
"""


# --------------------------------------------------------------------------
# A50. Referential-integrity audit: orphan counts across every foreign
# key in the star schema, each an anti-join count. Fact-side anti joins
# shuffle on the key; dim-side ones broadcast the dim. One tiny row per
# edge — the other half of the ETL load gate.
# --------------------------------------------------------------------------

def fk_orphan_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")

    def orphans(name, child, key, parent, pkey, bcast=False):
        p = parent.select(pkey)
        p = F.broadcast(p) if bcast else p
        n = (child.join(p, F.col(key) == F.col(pkey), "left_anti")
                  .agg(F.count(F.lit(1)).alias("n_orphans")))
        return n.select(F.lit(name).alias("fk"), "n_orphans")

    return (orphans("lineitem_orderkey", li, "l_orderkey", orders,
                    "o_orderkey")
            .unionAll(orphans("lineitem_partkey", li, "l_partkey", part,
                              "p_partkey", bcast=True))
            .unionAll(orphans("lineitem_suppkey", li, "l_suppkey", supp,
                              "s_suppkey", bcast=True))
            .unionAll(orphans("orders_custkey", orders, "o_custkey", cust,
                              "c_custkey")))

FK_ORPHANS_SQL = """
SELECT 'lineitem_orderkey' AS fk, count(*) AS n_orphans
FROM lineitem WHERE NOT EXISTS
  (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'lineitem_partkey', count(*)
FROM lineitem WHERE NOT EXISTS
  (SELECT 1 FROM part WHERE p_partkey = l_partkey)
UNION ALL
SELECT 'lineitem_suppkey', count(*)
FROM lineitem WHERE NOT EXISTS
  (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
UNION ALL
SELECT 'orders_custkey', count(*)
FROM orders WHERE NOT EXISTS
  (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
"""


# --------------------------------------------------------------------------
# A52. SQL API surface: the same engine driven through spark.sql() with
# temp views, a CTE, and a ranked window — proving the registry is not
# DataFrame-only. Catalyst compiles this to the identical physical plan
# a DataFrame formulation gets (one agg shuffle + one tiny window sort).
# --------------------------------------------------------------------------

def sql_top_nations_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_v")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ord_v")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("cust_v")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nat_v")
    return spark.sql("""
        WITH rev AS (
          SELECT n_name, year(o_orderdate) AS yr,
                 round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
          FROM li_v
          JOIN ord_v ON l_orderkey = o_orderkey
          JOIN cust_v ON o_custkey = c_custkey
          JOIN nat_v ON c_nationkey = n_nationkey
          GROUP BY n_name, year(o_orderdate)
        ), ranked AS (
          SELECT n_name, yr, revenue,
                 rank() OVER (PARTITION BY yr
                              ORDER BY revenue DESC, n_name) AS rnk
          FROM rev
        )
        SELECT yr, rnk, n_name, revenue FROM ranked WHERE rnk <= 3
    """)

SQL_TOP_NATIONS_SQL = """
WITH rev AS (
  SELECT n_name, year(o_orderdate) AS yr,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, year(o_orderdate)
), ranked AS (
  SELECT n_name, yr, revenue,
         rank() OVER (PARTITION BY yr ORDER BY revenue DESC, n_name) AS rnk
  FROM rev
)
SELECT yr, rnk, n_name, revenue FROM ranked WHERE rnk <= 3
"""


# --------------------------------------------------------------------------
# A53. Relative-rank windows (percent_rank / cume_dist): exact-integer
# rank arithmetic, so the doubles are engine-portable without rounding
# fuzz. One shuffle on the partition key.
# --------------------------------------------------------------------------

def acctbal_relative_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist without per-segment single-task windows:
    the (acctbal, custkey) tiebreak makes every row a unique position,
    so both statistics are pure arithmetic on a distributed row number
    — range partitions + per-(partition, segment) windows + broadcast
    offsets, the deciles machinery applied per segment. A plain
    PARTITION BY segment window would funnel each segment (5 total)
    through one WindowExec task regardless of cluster size."""
    cust = load_table(spark, sf_dir, "customer")
    d = (cust.select("c_mktsegment", "c_custkey", "c_acctbal")
             .repartitionByRange(F.col("c_mktsegment"), F.col("c_acctbal"),
                                 F.col("c_custkey"))
             .withColumn("__pid", F.spark_partition_id()))
    wl = (Window.partitionBy("__pid", "c_mktsegment")
                .orderBy("c_acctbal", "c_custkey"))
    local = d.withColumn("__rn", F.row_number().over(wl)) \
             .localCheckpoint(eager=True)  # pin ONE evaluation (__pid
    # offset-join class fix, round 5 — see stats.tie_avg_ranks)
    wo = (Window.partitionBy("c_mktsegment").orderBy("__pid")
                .rowsBetween(Window.unboundedPreceding, -1))
    off = (local.groupBy("__pid", "c_mktsegment")
           .agg(F.max("__rn").alias("__t"))
           .withColumn("__off", F.coalesce(F.sum("__t").over(wo), F.lit(0))))
    n = off.groupBy("c_mktsegment").agg(F.sum("__t").alias("__n"))
    pos = F.col("__off") + F.col("__rn")
    return (local
            .join(F.broadcast(off.select("__pid", "c_mktsegment", "__off")),
                  ["__pid", "c_mktsegment"])
            .join(F.broadcast(n), "c_mktsegment")
            .select("c_mktsegment", "c_custkey",
                    F.round("c_acctbal", 4).alias("c_acctbal"),
                    F.round((pos - 1) / (F.col("__n") - 1), 6)
                     .alias("pct_rank"),
                    F.round(pos / F.col("__n"), 6).alias("cume")))

RELATIVE_RANK_SQL = """
SELECT c_mktsegment, c_custkey, round(c_acctbal, 4) AS c_acctbal,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


# --------------------------------------------------------------------------
# A46. Logistic regression (IRLS / Newton): one fused aggregate per
# iteration (gradient + Hessian upper triangle), driver-side k-dim
# solve. Iterative floating math — rows-only check, like OLS/LASSO.
# --------------------------------------------------------------------------

def logreg_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .withColumn("is_return",
                      (F.col("l_returnflag") == "R").cast("double"))
          .withColumn("price_k", F.col("l_extendedprice") / 1000.0))
    return ml.logreg_irls(li, ["l_quantity", "l_discount", "price_k"],
                          "is_return", n_iter=8)


# --------------------------------------------------------------------------
# A47. Distributed full-corpus k-means (Lloyd): mapInPandas GEMM assign
# against broadcast centroids with in-batch partial reduction — the
# shuffle carries k*dim partials, never the corpus. Rows-only check.
# --------------------------------------------------------------------------

def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ml.kmeans_lloyd(emb, k=8, n_iter=5)


# --------------------------------------------------------------------------
# A55. Heavy-hitter / skew audit: per-key counts with share-of-total in
# basis points, top 20. The counts table is |customers|-sized (already
# reduced); the 1-row total broadcasts back, and the top-k is a
# TakeOrdered — no second full shuffle. This is the audit you run BEFORE
# picking join/salting strategy at 100 TB.
# --------------------------------------------------------------------------

def heavy_hitter_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    total = counts.agg(F.sum("n_orders").alias("__total"))
    return (counts.join(F.broadcast(total))
                  .select("o_custkey", "n_orders",
                          F.round(F.col("n_orders") * 10000.0 / F.col("__total"),
                                  4).alias("share_bp"))
                  .orderBy(F.desc("n_orders"), "o_custkey")
                  .limit(20))

HEAVY_HITTERS_SQL = """
WITH c AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
SELECT o_custkey, n_orders,
       round(n_orders * 10000.0 / (SELECT sum(n_orders) FROM c), 4) AS share_bp
FROM c ORDER BY n_orders DESC, o_custkey LIMIT 20
"""


# --------------------------------------------------------------------------
# A56. Spearman rank correlation: tie-averaged ranks computed on the
# DISTINCT-value tables (never a per-row global sort — the Kruskal
# trick), broadcast-joined back, then one Pearson corr aggregate.
# At extreme key cardinality the rank tables switch to quantile-binned
# approximate ranks; at these scales they are vocab-sized.
# --------------------------------------------------------------------------

def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def rank_tab(col: str, alias: str) -> DataFrame:
        # range-partitioned tie-averaged ranks — a near-unique double
        # column has a rows-sized distinct table, so no global window.
        # NOT checkpointed: the distinct table is ~rows-sized here, and
        # materializing 12M rows costs more than the replayed pruned
        # scan+shuffle (measured 11.7s vs 13.1s at 20x stress).
        c = li.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
        return (stats.tie_avg_ranks(c, col, "n", alias)
                .select(col, alias))

    # no broadcast hint on the rank tables: the price table is
    # rows-sized for near-unique values — AQE broadcasts when small and
    # shuffle-joins when not
    ranked = (li.select("l_quantity", "l_extendedprice")
                .join(rank_tab("l_quantity", "r_q"), "l_quantity")
                .join(rank_tab("l_extendedprice", "r_p"),
                      "l_extendedprice"))
    # safe_corr: a CONSTANT axis has zero rank variance — rho is
    # undefined => NULL, while Spark's corr aggregate would abort the
    # job under ANSI (the A56b twin's guard; oracle mirrors the form)
    return ranked.agg(F.round(stats.safe_corr("r_q", "r_p"), 4)
                       .alias("spearman_rho"),
                      F.count(F.lit(1)).alias("n_rows"))

SPEARMAN_SQL = """
WITH rq AS (
  SELECT l_quantity,
         sum(n) OVER (ORDER BY l_quantity ROWS UNBOUNDED PRECEDING)
           - (n - 1) / 2.0 AS r_q
  FROM (SELECT l_quantity, count(*) AS n FROM lineitem GROUP BY 1)
), rp AS (
  SELECT l_extendedprice,
         sum(n) OVER (ORDER BY l_extendedprice ROWS UNBOUNDED PRECEDING)
           - (n - 1) / 2.0 AS r_p
  FROM (SELECT l_extendedprice, count(*) AS n FROM lineitem GROUP BY 1)
)
SELECT round(covar_samp(r_q, r_p)
             / nullif(stddev_samp(r_q) * stddev_samp(r_p), 0), 4)
         AS spearman_rho,
       count(*) AS n_rows
FROM lineitem JOIN rq USING (l_quantity) JOIN rp USING (l_extendedprice)
"""


# --------------------------------------------------------------------------
# A57. Deterministic hash sampling: keep rows whose md5(key) prefix
# falls below a hex threshold ('1a' ~ 10.2%). Engine-portable (md5 is
# md5 everywhere), seedless, reproducible across runs AND across
# engines — unlike rand()-based sampling. The filter is a pure
# row-local predicate: no shuffle, scales embarrassingly.
# --------------------------------------------------------------------------

def deterministic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    keep = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "1a"
    return (o.where(keep)
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_sampled"),
                  F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                           .cast("double"), 4).alias("sampled_spend")))

DET_SAMPLE_SQL = """
SELECT o_orderpriority, count(*) AS n_sampled,
       round(CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE), 4) AS sampled_spend
FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A58. Snapshot reconciliation (data diff): classify every key across
# two table versions as added / removed / changed / unchanged. One
# full-outer sort-merge join on the key — the canonical CDC audit
# between two loads. Versions are derived deterministically from
# `orders` (modulo drops + a simulated price update) so the oracle sees
# the identical inputs.
# --------------------------------------------------------------------------

def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    old = (o.where(F.col("o_orderkey") % 97 != 0)
             .select("o_orderkey", F.col("o_totalprice").alias("price_old")))
    new = (o.where(F.col("o_orderkey") % 89 != 0)
             .select("o_orderkey",
                     F.when(F.col("o_orderkey") % 101 == 0,
                            F.col("o_totalprice") * 1.1)
                      .otherwise(F.col("o_totalprice")).alias("price_new")))
    j = old.join(new, "o_orderkey", "full_outer")
    cls = (F.when(F.col("price_old").isNull(), "added")
            .when(F.col("price_new").isNull(), "removed")
            .when(F.col("price_old") != F.col("price_new"), "changed")
            .otherwise("unchanged"))
    return (j.groupBy(cls.alias("change_type"))
             .agg(F.count(F.lit(1)).alias("n")))

SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice AS price_old
  FROM orders WHERE o_orderkey % 97 <> 0
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS price_new
  FROM orders WHERE o_orderkey % 89 <> 0
)
SELECT CASE WHEN price_old IS NULL THEN 'added'
            WHEN price_new IS NULL THEN 'removed'
            WHEN price_old <> price_new THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       count(*) AS n
FROM old FULL OUTER JOIN new USING (o_orderkey)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A59. SCD Type-2 dimension build: collapse each user's event stream
# into validity intervals [valid_from, valid_to) of their event_type
# "state", open-ended for the current state. Both windows ride ONE
# user_id shuffle; timestamps surface as integer microseconds (exact
# cross-engine). Sampled users keep the output review-sized.
# --------------------------------------------------------------------------

def scd2_user_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("user_id") % 50 == 0))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (ev.withColumn("prev", F.lag("event_type").over(w))
                 .where(F.col("prev").isNull()
                        | (F.col("prev") != F.col("event_type"))))
    nxt = F.lead("ts").over(w)
    return changed.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        nxt.isNull().cast("int").alias("is_current"))

SCD2_SQL = """
WITH c AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE user_id % 50 = 0
), ch AS (
  SELECT user_id, event_type, ts, event_id FROM c
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type AS state,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER w) AS valid_to_us,
       CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --------------------------------------------------------------------------
# A62. Mode (most frequent value) per group with DETERMINISTIC ties
# (highest count, then smallest value — engines' native mode() leaves
# ties unspecified, so both sides spell the tie-break out). Shuffle 1
# is the (group, value) count; the ranking window runs on that already
# tiny table.
# --------------------------------------------------------------------------

def mode_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cnt = (li.groupBy("l_returnflag", "l_quantity")
             .agg(F.count(F.lit(1)).alias("cnt")))
    w = (Window.partitionBy("l_returnflag")
               .orderBy(F.desc("cnt"), "l_quantity"))
    return (cnt.withColumn("rn", F.row_number().over(w))
               .where(F.col("rn") == 1)
               .select("l_returnflag",
                       F.col("l_quantity").alias("mode_quantity"),
                       F.col("cnt").alias("n_occurrences")))


# --------------------------------------------------------------------------
# A114. Order-priority checking (TPC-H Q4 shape): date-window scan of
# orders + EXISTS semi-join against the fact table with a correlated
# cross-side predicate, counted per priority. The schema has no
# l_commitdate/l_receiptdate, so "late" is l_shipdate more than 60
# days after o_orderdate — same shape: the semi join pushes the date
# window into the orders scan and dedups lineitem matches for free
# (no count inflation from multi-line orders). At 100 TB the orders
# side shrinks to one quarter before the shuffle and LEFT SEMI stops
# probing an order after the first late line.
# --------------------------------------------------------------------------

def late_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (load_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >=
                      F.lit("1997-07-01").cast("timestamp")) &
                     (F.col("o_orderdate") <
                      F.lit("1997-10-01").cast("timestamp"))))
    li = load_table(spark, sf_dir, "lineitem")
    late = (orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) &
        (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi"))
    return (late.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("order_count")))

LATE_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate <  TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# A115. Local-supplier volume (TPC-H Q5 shape): the distinguishing
# constraint is the cross-dimension equi-predicate c_nationkey =
# s_nationkey folded INTO the supplier join, so only intra-nation
# sales survive. Region + year filters prune before any wide join;
# nation/region broadcast.
# --------------------------------------------------------------------------

def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = (load_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >=
                      F.lit("1996-01-01").cast("timestamp")) &
                     (F.col("o_orderdate") <
                      F.lit("1997-01-01").cast("timestamp"))))
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = (load_table(spark, sf_dir, "region")
              .where(F.col("r_name") == "ASIA"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(supp,  # supplier scales with SF — no broadcast hint;
                           # AQE still broadcasts it when it measures small
                    (li.l_suppkey == supp.s_suppkey) &
                    (cust.c_nationkey == supp.s_nationkey))
              .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
              .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
              .groupBy("n_name")
              .agg(F.round(F.sum(rev), 4).alias("revenue")))

LOCAL_SUPPLIER_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# A116. Shipping-speed priority mix (TPC-H Q12 shape): conditional
# CASE-sums of priority classes per transport class. The schema has no
# l_shipmode, so the class is derived from ship latency (FAST < 30d,
# MEDIUM < 90d, else SLOW) — the load-bearing shape is the single
# fact-dim join feeding two filtered counts per group in ONE pass
# (no per-class re-scan).
# --------------------------------------------------------------------------

def ship_speed_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    speed = (F.when(lat < 30, "FAST")
              .when(lat < 90, "MEDIUM")
              .otherwise("SLOW"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.where((F.col("l_shipdate") >=
                      F.lit("1997-01-01").cast("timestamp")) &
                     (F.col("l_shipdate") <
                      F.lit("1998-01-01").cast("timestamp")))
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .groupBy(speed.alias("speed_class"))
              .agg(F.sum(high.cast("long")).alias("high_line_count"),
                   F.sum((~high).cast("long")).alias("low_line_count")))

SHIP_SPEED_SQL = """
SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) < 30 THEN 'FAST'
            WHEN datediff('day', o_orderdate, l_shipdate) < 90 THEN 'MEDIUM'
            ELSE 'SLOW' END AS speed_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A117. Supplier-count by part attributes (TPC-H Q16 shape): distinct
# suppliers per (brand, type, size) over the observed part-supplier
# pairs, with a NOT-IN exclusion subquery (suppliers in deficit stand
# in for Q16's complaint filter; the schema has no partsupp table, so
# the pair universe is the lineitem-observed one). The pair table is
# deduped BEFORE the count-distinct group-by; the exclusion list joins
# as a left_anti (unhinted — AQE broadcasts it while it stays small).
# --------------------------------------------------------------------------

def supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    bad = (load_table(spark, sf_dir, "supplier")
           .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    pairs = (li.select("l_partkey", "l_suppkey").distinct()
               .join(bad,  # exclusion list scales with SF — let AQE pick
                     F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"))
    return (pairs.join(part, pairs.l_partkey == part.p_partkey)
                 .where((F.col("p_brand") != "Brand#45") &
                        F.col("p_size").isin(1, 9, 17, 25, 33, 41, 49))
                 .groupBy("p_brand", "p_type", "p_size")
                 .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))

SUPPLIER_COUNT_SQL = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_size IN (1, 9, 17, 25, 33, 41, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# A156. Year-over-year rank stability of nation revenue (Spearman rho
# + Spearman footrule between consecutive years' nation rankings —
# the BI "did the league table reshuffle?" readout): revenue ranks
# come off the ≤(years × 25)-row aggregate, so every rank window is
# bounded by the dimension, never the fact.
# --------------------------------------------------------------------------

def rank_stability_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import money
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (li.join(o, li.l_orderkey == o.o_orderkey)
             .join(c, o.o_custkey == c.c_custkey)
             .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .where(F.col("o_orderdate").isNotNull())
             .groupBy(F.year("o_orderdate").alias("yr"),
                      F.col("n_name"))
             .agg(F.sum(money("l_extendedprice")).alias("rev")))
    w = Window.partitionBy("yr").orderBy(F.desc("rev"), "n_name")
    ranked = rev.withColumn("r", F.row_number().over(w))
    cur = ranked.select(F.col("yr").alias("y"), "n_name",
                        F.col("r").alias("rc"))
    prv = ranked.select((F.col("yr") + 1).alias("y"), "n_name",
                        F.col("r").alias("rp"))
    j = cur.join(prv, ["y", "n_name"])
    k = F.count(F.lit(1)).cast("double")
    d2 = F.sum((F.col("rc") - F.col("rp"))
               * (F.col("rc") - F.col("rp"))).cast("double")
    foot = F.sum(F.abs(F.col("rc") - F.col("rp")))
    return (j.groupBy("y")
             .agg(F.count(F.lit(1)).alias("n_nations"),
                  F.round(1 - 6 * d2 / (k * (k * k - 1)), 6)
                   .alias("spearman_vs_prev_year"),
                  F.round(foot.cast("double"), 1).alias("footrule"))
             .select(F.col("y").alias("year"), "n_nations",
                     "spearman_vs_prev_year", "footrule")
             .orderBy("year"))

RANK_STABILITY_SQL = """
WITH rev AS (
  SELECT year(o_orderdate) AS yr, n_name,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderdate IS NOT NULL
  GROUP BY 1, 2
), ranked AS (
  SELECT yr, n_name,
         row_number() OVER (PARTITION BY yr
                            ORDER BY rev DESC, n_name) AS r
  FROM rev
)
SELECT cur.yr AS year,
       count(*) AS n_nations,
       round(1 - 6 * CAST(sum((cur.r - prv.r) * (cur.r - prv.r))
                          AS DOUBLE)
             / (count(*) * (CAST(count(*) AS DOUBLE) * count(*) - 1)), 6)
         AS spearman_vs_prev_year,
       round(CAST(sum(abs(cur.r - prv.r)) AS DOUBLE), 1) AS footrule
FROM ranked cur JOIN ranked prv
  ON prv.yr = cur.yr - 1 AND prv.n_name = cur.n_name
GROUP BY 1 ORDER BY 1
"""
