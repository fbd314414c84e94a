"""Join-heavy analytical queries (TPC-H-shaped) — bench anchors that
exercise multi-way broadcast/shuffle joins, semi-join pushdown, and
JSON extraction, each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .registry import register
from .queries_scale_common import _sorted1
from .sources.tables import load_tables
from .sources.tables import table as _t

_DEC = "DECIMAL(18,2)"


# ---------------------------------------------------------------------------
# Q3-shaped: shipping priority — 3-way join, agg, deterministic top-k
# ---------------------------------------------------------------------------

def _q3(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING") \
                        .select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff) \
                        .select("o_orderkey", "o_custkey", "o_orderdate")
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff) \
                      .select("l_orderkey", "l_extendedprice", "l_discount")
    disc = (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (li.join(broadcast(orders.join(broadcast(cust),
                                          orders["o_custkey"] == cust["c_custkey"])),
                    F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_orderkey", "o_orderdate")
            .agg(F.sum(disc).cast("double").alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


register(
    "tpch_q3_shipping_priority",
    _q3,
    """
SELECT l_orderkey, o_orderdate,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
""",
    doc="Q3-shaped: selective dims broadcast into the fact scan, top-k.",
)

# ---------------------------------------------------------------------------
# Q5-shaped: revenue by nation — join chain through nation/region
# ---------------------------------------------------------------------------

def _q5(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    region = t["region"].filter(F.col("r_name") == "REGION_0").select("r_regionkey")
    nation = (t["nation"].join(broadcast(region),
                               F.col("n_regionkey") == F.col("r_regionkey"))
              .select("n_nationkey", "n_name"))
    cust = (t["customer"].join(broadcast(nation),
                               F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", "n_name"))
    orders = t["orders"].select("o_orderkey", "o_custkey")
    li = t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
    disc = (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
              .groupBy("n_name")
              .agg(F.sum(disc).cast("double").alias("revenue"))
              .transform(_sorted1, "n_name"))


register(
    "tpch_q5_nation_revenue",
    _q5,
    """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM region, nation, customer, orders, lineitem
WHERE r_name = 'REGION_0' AND n_regionkey = r_regionkey
  AND c_nationkey = n_nationkey AND o_custkey = c_custkey
  AND l_orderkey = o_orderkey
GROUP BY n_name ORDER BY n_name
""",
    doc="Q5-shaped join chain: region→nation→customer broadcast, fact joins.",
)

# ---------------------------------------------------------------------------
# Q6-shaped: selective-predicate revenue (pure scan + pushdown showcase)
# ---------------------------------------------------------------------------

def _q6(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * F.col("l_discount").cast("decimal(4,2)"))
    return sel.agg(F.sum(rev).cast("double").alias("revenue"),
                   F.count(F.lit(1)).alias("n_rows"))


register(
    "tpch_q6_forecast_revenue",
    _q6,
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="Q6-shaped: every predicate pushed to the parquet scan.",
)

# ---------------------------------------------------------------------------
# Q4-shaped: orders with at least one late line — LEFT SEMI join (the
# physical operator behind EXISTS; J2's flag variant is in the flagship)
# ---------------------------------------------------------------------------

def _q4(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")))
    late = t["lineitem"].select("l_orderkey", "l_shipdate")
    exists = o.join(late, (F.col("o_orderkey") == F.col("l_orderkey"))
                    & (F.col("l_shipdate") > F.col("o_orderdate")), "left_semi")
    return (exists.groupBy("o_orderpriority")
                  .agg(F.count(F.lit(1)).alias("order_count"))
                  .orderBy("o_orderpriority"))


register(
    "tpch_q4_order_priority",
    _q4,
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="Q4-shaped: EXISTS as a LEFT SEMI join with a non-equi residual.",
)

# ---------------------------------------------------------------------------
# Q12-shaped: order-priority counts by line status (join + conditional agg)
# ---------------------------------------------------------------------------

def _q12(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_linestatus")
    o = t["orders"].select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .groupBy("l_linestatus")
              .agg(F.sum(high.cast("int")).cast("long").alias("high_line_count"),
                   F.sum((~high).cast("int")).cast("long").alias("low_line_count"))
              .orderBy("l_linestatus"))


register(
    "tpch_q12_priority_shipping",
    _q12,
    """
SELECT l_linestatus,
       COUNT(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
       COUNT(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus ORDER BY l_linestatus
""",
    doc="Q12-shaped: fact-fact join + conditional boolean-sum aggregation.",
)

# ---------------------------------------------------------------------------
# Q14-shaped: promo revenue share (join + ratio of conditional decimal sums)
# ---------------------------------------------------------------------------

def _q14(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    li = t["lineitem"].select("l_partkey", "l_extendedprice", "l_discount")
    p = t["part"].select("p_partkey", "p_type")
    disc = (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    promo = F.col("p_type") == "PROMO"
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        (F.lit(100.0)
         * F.sum(F.when(promo, disc).otherwise(F.lit(0).cast("decimal(18,4)")))
             .cast("double")
         / F.sum(disc).cast("double")).alias("promo_revenue_pct"))


register(
    "tpch_q14_promo_revenue",
    _q14,
    """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
""",
    doc="Q14-shaped: dimension join + conditional decimal sums ratio.",
)

# ---------------------------------------------------------------------------
# §3.3 serving loop as ONE query: filter → search → chart agg over the view
# ---------------------------------------------------------------------------

def _serving(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.pivot import pct_within_group
    from .operators.serve import equality_filters, global_search
    view = equality_filters(_t(spark, sf, "orders"), {"o_orderstatus": "F"})
    view = global_search(view.withColumn("key_str", F.col("o_orderkey").cast("string")),
                         "7", columns=["o_orderpriority", "key_str"]).drop("key_str")
    return pct_within_group(view, "o_orderstatus", "o_orderpriority")


register(
    "serving_filtered_chart",
    _serving,
    """
WITH view AS (
  SELECT * FROM orders
  WHERE o_orderstatus = 'F'
    AND contains(lower(concat_ws(chr(31), o_orderpriority,
                                 CAST(o_orderkey AS VARCHAR))), '7')),
counts AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS count
  FROM view GROUP BY 1, 2)
SELECT o_orderstatus, o_orderpriority, count,
       CAST(round_even(CAST(100 * count / SUM(count) OVER (PARTITION BY o_orderstatus)
                       AS DECIMAL(20,17)), 2) AS DOUBLE) AS pct
FROM counts
""",
    doc="§3.3 dashboard loop: dropdown filter + search + chart agg on the view.",
)

# ---------------------------------------------------------------------------
# JSON props extraction over events (the one semi-structured column)
# ---------------------------------------------------------------------------

register(
    "events_props_json",
    lambda spark, sf: _t(spark, sf, "events")
        .select("event_id",
                F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"))
        .filter(F.col("k").isNotNull()),
    """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
""",
    doc="JSON field extraction from the semi-structured props column.",
)

# ---------------------------------------------------------------------------
# Q7-shaped: volume shipping between two nations — the classic two-role
# dimension join (nation joined twice under different roles)
# ---------------------------------------------------------------------------

def _q7(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    n1 = t["nation"].select(F.col("n_nationkey").alias("s_nk"),
                            F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("c_nk"),
                            F.col("n_name").alias("cust_nation"))
    supp = (t["supplier"].select("s_suppkey", "s_nationkey")
            .join(broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
            .select("s_suppkey", "supp_nation"))
    cust = (t["customer"].select("c_custkey", "c_nationkey")
            .join(broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
            .select("c_custkey", "cust_nation"))
    o = t["orders"].select("o_orderkey", "o_custkey")
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate",
                              "l_extendedprice", "l_discount")
    disc = (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    pair = (((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    return (li.join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
              .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
              .filter(pair)
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").cast("long").alias("l_year"))
              .agg(F.sum(disc).cast("double").alias("revenue"))
              .orderBy("supp_nation", "cust_nation", "l_year"))


register(
    "tpch_q7_volume_shipping",
    _q7,
    """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON n1.n_nationkey = s_nationkey
  JOIN nation n2 ON n2.n_nationkey = c_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    doc="Q7-shaped: nation joined twice under different roles; per-year "
        "decimal revenue between a nation pair.",
)

# ---------------------------------------------------------------------------
# Q8-shaped: market share — ratio of conditional sums per year across a
# 5-way join (both nation roles + region gate)
# ---------------------------------------------------------------------------

def _q8(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    region = t["region"].filter(F.col("r_name") == "REGION_0").select("r_regionkey")
    cust_nation = (t["nation"]
                   .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
                   .select(F.col("n_nationkey").alias("c_nk")))
    cust = (t["customer"].select("c_custkey", "c_nationkey")
            .join(broadcast(cust_nation), F.col("c_nationkey") == F.col("c_nk"))
            .select("c_custkey"))
    supp = (t["supplier"].select("s_suppkey", "s_nationkey")
            .join(broadcast(t["nation"].select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    promo_parts = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    o = t["orders"].select("o_orderkey", "o_custkey", "o_orderdate")
    li = t["lineitem"].select("l_orderkey", "l_partkey", "l_suppkey",
                              "l_extendedprice", "l_discount")
    disc = (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    target = F.when(F.col("supp_nation") == "NATION_5", disc) \
              .otherwise(F.lit(0).cast("decimal(18,4)"))
    return (li.join(broadcast(promo_parts), F.col("l_partkey") == F.col("p_partkey"))
              .join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
              .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
              .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
              .agg((F.sum(target).cast("double")
                    / F.sum(disc).cast("double")).alias("mkt_share"))
              .orderBy("o_year"))


register(
    "tpch_q8_market_share",
    _q8,
    """
SELECT year(o_orderdate) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_5'
                THEN CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))
                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN part     ON p_partkey = l_partkey AND p_type = 'PROMO'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region   ON r_regionkey = n1.n_regionkey AND r_name = 'REGION_0'
GROUP BY o_year ORDER BY o_year
""",
    doc="Q8-shaped: one nation's share of promo-part revenue in a region, "
        "per year — conditional/total decimal-sum ratio over a 5-way join.",
)

# ---------------------------------------------------------------------------
# Q2-shaped: min-cost supplier per part — the aggregate-subquery pattern
# (window min == correlated MIN subquery), small-dim broadcast chain
# ---------------------------------------------------------------------------

def _q2(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    t = load_tables(spark, sf)
    parts = t["part"].filter(F.col("p_size") < 10).select("p_partkey")
    offers = (t["lineitem"]
              .join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
              .groupBy("l_partkey", "l_suppkey")
              .agg(F.min("l_extendedprice").alias("offer")))
    # best offer per part: window min replaces Q2's correlated subquery —
    # same shuffle (already partitioned by l_partkey from the agg)
    w = Window.partitionBy("l_partkey")
    best = (offers.withColumn("_best", F.min("offer").over(w))
                  .filter(F.col("offer") == F.col("_best")).drop("_best"))
    supp = (t["supplier"]
            .join(broadcast(t["nation"].select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name", "n_name"))
    return (best.join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
                .select(F.col("l_partkey").alias("p_partkey"), "s_name",
                        "n_name", "offer")
                .orderBy("p_partkey", "s_name"))


register(
    "tpch_q2_min_cost_supplier",
    _q2,
    """
WITH offers AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS offer
  FROM lineitem JOIN part ON p_partkey = l_partkey AND p_size < 10
  GROUP BY 1, 2)
SELECT o.l_partkey AS p_partkey, s_name, n_name, offer
FROM offers o
JOIN supplier ON s_suppkey = o.l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE offer = (SELECT MIN(o2.offer) FROM offers o2
               WHERE o2.l_partkey = o.l_partkey)
ORDER BY p_partkey, s_name
""",
    doc="Q2-shaped: correlated-MIN subquery expressed as a window min over "
        "the per-(part, supplier) offer aggregate.",
)

# ---------------------------------------------------------------------------
# Q10-shaped: returned-item revenue per customer (join + top-k by measure)
# ---------------------------------------------------------------------------

def _q10(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    li = (t["lineitem"].filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    o = t["orders"].select("o_orderkey", "o_custkey")
    c = t["customer"].select("c_custkey", "c_name", "c_acctbal")
    disc = (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
              .groupBy("c_custkey", "c_name", "c_acctbal")
              .agg(F.sum(disc).cast("double").alias("revenue"))
              .orderBy(F.desc("revenue"), F.asc("c_custkey"))
              .limit(20))


register(
    "tpch_q10_returned_items",
    _q10,
    """
SELECT c_custkey, c_name, c_acctbal,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
""",
    doc="Q10-shaped: returned-line revenue per customer, deterministic "
        "top-20 by measure.",
)

# ---------------------------------------------------------------------------
# Q18-shaped: large-quantity orders — HAVING-gated agg feeding a semi-join
# back into the fact
# ---------------------------------------------------------------------------

def _q18(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    li = t["lineitem"].select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
             .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_q"))
             .filter(F.col("_q") > 55)
             .select("l_orderkey", F.col("_q").cast("double").alias("total_qty")))
    o = t["orders"].select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    return (o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
             .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
                     "total_qty")
             .orderBy(F.desc("total_qty"), F.asc("o_orderkey")))


register(
    "tpch_q18_large_orders",
    _q18,
    """
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 55) big
  ON o_orderkey = big.l_orderkey
ORDER BY total_qty DESC, o_orderkey ASC
""",
    doc="Q18-shaped: HAVING-gated quantity rollup joined back to orders.",
)

# ---------------------------------------------------------------------------
# Q13-shaped: order-count distribution per customer (left join keeps the
# zero-order customers; two-level aggregation)
# ---------------------------------------------------------------------------

def _q13(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    c = t["customer"].select("c_custkey")
    o = t["orders"].filter(~F.col("o_orderpriority").startswith("1-")) \
                   .select("o_orderkey", "o_custkey")
    per_cust = (c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
                 .groupBy("c_custkey")
                 .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
                    .agg(F.count(F.lit(1)).alias("custdist"))
                    .orderBy(F.desc("custdist"), F.desc("c_count")))


register(
    "tpch_q13_customer_distribution",
    _q13,
    """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
  GROUP BY c_custkey) cc
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
""",
    doc="Q13-shaped: per-customer order counts (zeros kept via left join), "
        "then the distribution of those counts.",
)

# ---------------------------------------------------------------------------
# Q15-shaped: top supplier(s) by period revenue — window max replaces the
# correlated MAX subquery over a derived view
# ---------------------------------------------------------------------------

def _q15(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    t = load_tables(spark, sf)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz")))
    disc = (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    rev = (li.groupBy("l_suppkey")
             .agg(F.sum(disc).alias("_r"))
             .select("l_suppkey", F.col("_r").cast("double").alias("total_revenue")))
    w = Window.orderBy(F.lit(1))  # global max over the tiny per-supplier agg
    best = (rev.withColumn("_max", F.max("total_revenue").over(w))
               .filter(F.col("total_revenue") == F.col("_max")).drop("_max"))
    s = t["supplier"].select("s_suppkey", "s_name")
    return (best.join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
                .select("s_suppkey", "s_name", "total_revenue")
                .orderBy("s_suppkey"))


register(
    "tpch_q15_top_supplier",
    _q15,
    """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
    doc="Q15-shaped: correlated-MAX over a revenue view as a window max on "
        "the already-reduced per-supplier aggregate.",
)

# ---------------------------------------------------------------------------
# Q17-shaped: revenue impact of small-quantity lines — per-part average
# via window avg (deterministic decimal ratio), then the selective filter
# ---------------------------------------------------------------------------

def _q17(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    t = load_tables(spark, sf)
    parts = t["part"].filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = (t["lineitem"]
          .join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", "l_quantity", "l_extendedprice"))
    w = Window.partitionBy("l_partkey")
    qsum = F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w)
    qcnt = F.count(F.lit(1)).over(w)
    avg_qty = (qsum.cast("double") / qcnt)
    flagged = li.withColumn("_avg", avg_qty) \
                .filter(F.col("l_quantity") < 0.2 * F.col("_avg"))
    return flagged.agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
         / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"))


register(
    "tpch_q17_small_quantity",
    _q17,
    """
WITH li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#1'),
av AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_qty
  FROM li GROUP BY l_partkey)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n_lines
FROM li JOIN av USING (l_partkey)
WHERE l_quantity < 0.2 * avg_qty
""",
    doc="Q17-shaped: correlated per-part average as a window avg with the "
        "deterministic decimal-sum/count ratio.",
)

# ---------------------------------------------------------------------------
# Q19-shaped: disjunctive multi-attribute predicates (OR of brand/size/qty
# triples) — one scan, one join, predicates folded into the join filter
# ---------------------------------------------------------------------------

def _q19(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    li = t["lineitem"].select("l_partkey", "l_quantity",
                              "l_extendedprice", "l_discount")
    p = t["part"].select("p_partkey", "p_brand", "p_size")
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 21)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(10, 30))
           & (F.col("l_quantity").between(10, 40)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(20, 50))
           & (F.col("l_quantity").between(20, 50)))
    )
    disc = (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return joined.filter(cond).agg(
        F.sum(disc).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"))


register(
    "tpch_q19_disjunctive_predicates",
    _q19,
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
""",
    doc="Q19-shaped: OR of attribute-triple predicates evaluated in one "
        "join pass (no union of scans).",
)

# ---------------------------------------------------------------------------
# Q22-shaped: above-average-balance customers with no orders (scalar
# aggregate subquery + anti join)
# ---------------------------------------------------------------------------

def _q22(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    c = t["customer"].select("c_custkey", "c_acctbal", "c_mktsegment")
    positive = c.filter(F.col("c_acctbal") > 0)
    avg_bal = (positive.agg(
        (F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
         / F.count(F.lit(1))).alias("a")))
    rich = (c.join(broadcast(avg_bal))
             .filter(F.col("c_acctbal") > F.col("a")).drop("a"))
    o = t["orders"].select("o_custkey")
    no_orders = rich.join(o, F.col("c_custkey") == F.col("o_custkey"),
                          "left_anti")
    return (no_orders.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                  .cast("double").alias("totacctbal"))
            .orderBy("c_mktsegment"))


register(
    "tpch_q22_global_sales_opportunity",
    _q22,
    """
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    doc="Q22-shaped: scalar-average subquery broadcast into the filter, "
        "anti join for customers with no orders.",
)

# ---------------------------------------------------------------------------
# Q21-shaped: sole late supplier in multi-supplier orders — EXISTS and
# NOT EXISTS correlated on the same fact, as conditional count-distinct
# window aggregates (one pass over lineitem, no self-joins)
# ---------------------------------------------------------------------------

def _q21(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    t = load_tables(spark, sf)
    o = t["orders"].filter(F.col("o_orderstatus") == "F") \
                   .select("o_orderkey", "o_orderdate")
    li = (t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(o, F.col("l_orderkey") == F.col("o_orderkey")))
    # Timestamp-preserving cutoff: date_add would truncate o_orderdate to
    # DATE while the oracle's "+ INTERVAL 60 DAY" keeps time-of-day.
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    w = Window.partitionBy("l_orderkey")
    flagged = (li.withColumn("_n_supp", F.size(F.collect_set("l_suppkey").over(w)))
                 .withColumn("_n_late_supp",
                             F.size(F.collect_set(
                                 F.when(late, F.col("l_suppkey"))).over(w))))
    target = (flagged.filter(late & (F.col("_n_supp") > 1)
                             & (F.col("_n_late_supp") == 1))
                     .select("l_suppkey").distinct())
    s = t["supplier"].select("s_suppkey", "s_name")
    return (target.join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
                  .groupBy("s_suppkey", "s_name")
                  .agg(F.lit(1).alias("is_sole_late"))
                  .orderBy("s_suppkey"))


register(
    "tpch_q21_sole_late_supplier",
    _q21,
    """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'),
agg AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM li GROUP BY l_orderkey)
SELECT s_suppkey, s_name, 1 AS is_sole_late
FROM (
  SELECT DISTINCT li.l_suppkey
  FROM li JOIN agg ON li.l_orderkey = agg.l_orderkey
  WHERE li.is_late AND agg.n_supp > 1 AND agg.n_late_supp = 1) t
JOIN supplier ON s_suppkey = t.l_suppkey
GROUP BY s_suppkey, s_name
ORDER BY s_suppkey
""",
    doc="Q21-shaped: EXISTS (another supplier) and NOT EXISTS (another "
        "late supplier) folded into per-order distinct-count windows — "
        "one pass over lineitem, no correlated self-joins.",
)

# ---------------------------------------------------------------------------
# U3 INTERSECT: key sets present on both sides (the set op J4's anti
# join is the complement of)
# ---------------------------------------------------------------------------

register(
    "u3_key_intersect",
    lambda spark, sf: load_tables(spark, sf)["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
        .intersect(load_tables(spark, sf)["orders"]
                   .filter(F.col("o_orderpriority") == "1-URGENT")
                   .select(F.col("o_custkey").alias("key")))
        .orderBy("key"),
    """
SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY key
""",
    doc="INTERSECT of filtered key sets (left-semi on distinct keys).",
)

# ---------------------------------------------------------------------------
# Robust outlier filter: per-group median absolute deviation (MAD) gate
# — the data-cleaning pass before training-statistics aggregation
# ---------------------------------------------------------------------------

def _mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    # Scale shape: per-group medians as unbounded window aggregates would
    # funnel each status group (a third of the fact table) through one
    # task. Instead aggregate the medians into a GROUP-CARDINALITY-sized
    # frame (two tiny groupBys), broadcast them back onto the fact scan,
    # and filter — the fact table is scanned, never window-sorted.
    o = load_tables(spark, sf)["orders"].select("o_orderkey", "o_orderstatus",
                                                "o_totalprice")
    med = (o.groupBy("o_orderstatus")
             .agg(F.expr("percentile(o_totalprice, 0.5)").alias("_med")))
    mad = (o.join(broadcast(med), "o_orderstatus")
             .groupBy("o_orderstatus")
             .agg(F.expr("percentile(abs(o_totalprice - _med), 0.5)")
                   .alias("_mad")))
    stats = med.join(mad, "o_orderstatus")
    return (o.join(broadcast(stats), "o_orderstatus")
             .filter(F.abs(F.col("o_totalprice") - F.col("_med"))
                     > 2 * F.col("_mad"))
             .select("o_orderkey", "o_orderstatus", "o_totalprice")
             .orderBy("o_orderkey"))


register(
    "mad_outlier_filter",
    _mad_outliers,
    """
WITH med AS (
  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS m
  FROM orders GROUP BY o_orderstatus),
mad AS (
  SELECT o.o_orderstatus, quantile_cont(abs(o.o_totalprice - med.m), 0.5) AS d
  FROM orders o JOIN med ON o.o_orderstatus = med.o_orderstatus
  GROUP BY o.o_orderstatus)
SELECT o_orderkey, o.o_orderstatus, o_totalprice
FROM orders o
JOIN med ON o.o_orderstatus = med.o_orderstatus
JOIN mad ON o.o_orderstatus = mad.o_orderstatus
WHERE abs(o_totalprice - med.m) > 2 * mad.d
ORDER BY o_orderkey
""",
    doc="Per-group median-absolute-deviation outlier gate (robust "
        "z-score, 2-MAD): agg-then-broadcast medians, no fact-side window.",
)

# ---------------------------------------------------------------------------
# Skew-stress: fact-side salted join against per-key statistics on a
# deliberately skewed key (~90% of rows share one key). Every other
# headline join has a broadcastable small side; this one FORCES the
# sort-merge path (merge hint — the 100 TB case where the stats table is
# itself fact-sized and cannot broadcast) and spreads the hot key across
# 32 salts so no single reducer sees the whole mega-key. Salting is a
# physical transform only: the oracle is the plain unsalted join.
# ---------------------------------------------------------------------------

def _skew_salted(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.join import salted_left_join
    li = load_tables(spark, sf)["lineitem"].select(
        "l_orderkey", "l_partkey", "l_quantity")
    fact = li.withColumn(
        "skew_key",
        F.when(F.col("l_partkey") % 10 == 0, F.col("l_partkey"))
         .otherwise(F.lit(0)))
    stats = (fact.groupBy("skew_key")
                 .agg(F.max("l_quantity").alias("max_qty"))
                 .hint("merge"))
    joined = salted_left_join(fact, stats, ["skew_key"], n_salts=32,
                              salt_source="l_orderkey")
    return (joined.filter(F.col("l_quantity") == F.col("max_qty"))
                  .groupBy("skew_key")
                  .agg(F.count(F.lit(1)).alias("n_at_max"))
                  .transform(_sorted1, "skew_key"))


register(
    "skew_salted_join",
    _skew_salted,
    """
WITH f AS (
  SELECT CASE WHEN l_partkey % 10 = 0 THEN l_partkey ELSE 0 END AS skew_key,
         l_quantity
  FROM lineitem),
s AS (SELECT skew_key, MAX(l_quantity) AS max_qty FROM f GROUP BY skew_key)
SELECT f.skew_key, COUNT(*) AS n_at_max
FROM f JOIN s ON f.skew_key = s.skew_key AND f.l_quantity = s.max_qty
GROUP BY f.skew_key
ORDER BY f.skew_key
""",
    doc="Deliberately skewed fact join (90% of rows on one key) through "
        "the salted sort-merge path — rows at their skew-group max "
        "quantity; oracle is the plain unsalted join.",
)

# ---------------------------------------------------------------------------
# Q9-shaped: product-line profit by supplier nation and year. The corpus
# has no partsupp table, so unit cost is proxied by p_retailprice (same
# plan shape: fact scan joined to two filtered dims + orders for the
# year). Lineitem-orders stays a shuffle join — neither side is
# dimension-sized at scale; the part and supplier⋈nation sides broadcast.
# ---------------------------------------------------------------------------

def _q9(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    parts = (t["part"].filter(F.col("p_name").like("%widget%"))
             .select("p_partkey", "p_retailprice"))
    supp = (t["supplier"]
            .join(broadcast(t["nation"].select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "n_name"))
    li = t["lineitem"].select("l_orderkey", "l_partkey", "l_suppkey",
                              "l_quantity", "l_extendedprice", "l_discount")
    o = t["orders"].select("o_orderkey", "o_orderdate")
    profit = (F.col("l_extendedprice").cast("decimal(12,2)")
              * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
              - F.col("p_retailprice").cast("decimal(12,2)")
              * F.col("l_quantity").cast("decimal(12,2)"))
    return (li.join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
              .join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
              .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .groupBy(F.col("n_name").alias("nation"),
                       F.year("o_orderdate").alias("o_year"))
              .agg(F.sum(profit).cast("double").alias("sum_profit"))
              .orderBy("nation", F.desc("o_year")))


register(
    "tpch_q9_product_profit",
    _q9,
    """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                - CAST(p_retailprice AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%widget%'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)
ORDER BY nation, o_year DESC
""",
    doc="Q9-shaped: per-nation per-year profit (retailprice as the cost "
        "proxy; no partsupp in this corpus) over a 4-way join.",
)

# ---------------------------------------------------------------------------
# Q11-shaped: important parts by shipped value from one nation's
# suppliers, thresholded against a scalar aggregate of the same view —
# Q11's correlated HAVING as a 1-row broadcast cross join. The 2×-mean
# threshold is scale-free (selectivity stays put as part count grows).
# ---------------------------------------------------------------------------

def _q11(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    supp = (t["supplier"]
            .join(broadcast(t["nation"]
                            .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
                            .select("n_nationkey")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey"))
    per_part = (t["lineitem"]
                .join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
                .groupBy(F.col("l_partkey").alias("p_partkey"))
                .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                      .alias("_val")))
    stats = per_part.agg(
        F.sum("_val").alias("_total"),
        F.count(F.lit(1)).alias("_nparts"))
    return (per_part.crossJoin(broadcast(stats))
            .filter(F.col("_val").cast("double")
                    > 2.0 * F.col("_total").cast("double")
                      / F.col("_nparts"))
            .select("p_partkey", F.col("_val").cast("double").alias("part_value"))
            .orderBy(F.desc("part_value"), "p_partkey"))


register(
    "tpch_q11_important_stock",
    _q11,
    """
WITH pv AS (
  SELECT l_partkey AS p_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
  FROM lineitem
  WHERE l_suppkey IN (
      SELECT s_suppkey FROM supplier JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_2'))
  GROUP BY l_partkey)
SELECT p_partkey, CAST(val AS DOUBLE) AS part_value
FROM pv
WHERE CAST(val AS DOUBLE) > 2.0 * (SELECT CAST(SUM(val) AS DOUBLE) / COUNT(*)
                                   FROM pv)
ORDER BY part_value DESC, p_partkey
""",
    doc="Q11-shaped: per-part shipped value from two nations' suppliers, "
        "kept where above 2× the mean — scalar-subquery HAVING as a "
        "broadcast cross join.",
)

# ---------------------------------------------------------------------------
# Q16-shaped: supplier diversity per part descriptor — distinct-count agg
# with an exclusion anti-join (low-balance suppliers stand in for Q16's
# complaint suppliers; all balances here are positive so the cut is a
# fixed threshold).
# ---------------------------------------------------------------------------

def _q16(spark: SparkSession, sf: str) -> DataFrame:
    t = load_tables(spark, sf)
    parts = (t["part"]
             .filter((F.col("p_brand") != "Brand#1") & (F.col("p_size") < 30))
             .select("p_partkey", "p_brand", "p_type", "p_size"))
    excluded = (t["supplier"].filter(F.col("s_acctbal") < 1000)
                .select("s_suppkey"))
    li = (t["lineitem"].select("l_partkey", "l_suppkey")
          .join(broadcast(excluded),
                F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"))
    return (li.join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
              .groupBy("p_brand", "p_type", "p_size")
              .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
              .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"))


register(
    "tpch_q16_supplier_diversity",
    _q16,
    """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size < 30
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    doc="Q16-shaped: distinct suppliers per (brand, type, size) after an "
        "anti-join exclusion list.",
)

# ---------------------------------------------------------------------------
# Q20-shaped: dominant suppliers of a part line in one year — per
# (supplier, part) shipped quantity against a per-part window total, then
# a semi-join up to named suppliers. Mirrors Q20's nested-subquery chain
# (agg → correlated threshold → semi-join → dim lookup) without partsupp.
# ---------------------------------------------------------------------------

def _q20(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    t = load_tables(spark, sf)
    parts = (t["part"].filter(F.col("p_name").like("%bolt%"))
             .select("p_partkey"))
    y1996 = (t["lineitem"]
             .filter(F.year("l_shipdate") == 1996)
             .join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
             .groupBy("l_suppkey", "l_partkey")
             .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                   .alias("qty")))
    w = Window.partitionBy("l_partkey")
    dominant = (y1996.withColumn("_part_total", F.sum("qty").over(w))
                .filter(F.col("qty").cast("double")
                        > 0.3 * F.col("_part_total").cast("double"))
                .select("l_suppkey").distinct())
    supp = (t["supplier"]
            .join(broadcast(t["nation"].select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name", "n_name"))
    return (supp.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"),
                      "left_semi")
                .orderBy("s_name"))


register(
    "tpch_q20_dominant_supplier",
    _q20,
    """
WITH y AS (
  SELECT l_suppkey, l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE year(l_shipdate) = 1996 AND p_name LIKE '%bolt%'
  GROUP BY l_suppkey, l_partkey),
dom AS (
  SELECT DISTINCT l_suppkey FROM y
  WHERE CAST(qty AS DOUBLE) > 0.3 * (SELECT CAST(SUM(y2.qty) AS DOUBLE)
                                     FROM y y2 WHERE y2.l_partkey = y.l_partkey))
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
ORDER BY s_name
""",
    doc="Q20-shaped: suppliers shipping >30% of a part's 1996 volume "
        "(window share vs Q20's correlated subquery), semi-joined to the "
        "supplier dimension.",
)


# ---------------------------------------------------------------------------
# golden_record_merge (r11): MDM survivorship — collapse duplicate
# entity records into one golden row with the three classic rules,
# each deterministic: LONGEST (length desc, value asc) for names,
# MOST-RECENT NON-NULL (update order desc, variant asc) for balances,
# MOST-FREQUENT (count desc, value asc) for categories. Duplicates are
# synthesized from the customer table (3 variants per entity with
# deterministic perturbations and nulls), so truth is exact and the
# oracle replays every rule. Scale: one shuffle keyed by entity for
# the windows + one (entity, value) agg for the mode — the standard
# entity-resolution merge shape.
# ---------------------------------------------------------------------------

def _golden_record(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    c = _t(spark, sf, "customer")
    ent = (F.col("c_custkey") / F.lit(3)).cast("long")
    var = (F.col("c_custkey") % 3).cast("int")
    name_v = (F.when(var == 1, F.upper(F.col("c_name")))
               .when(var == 2, F.concat(F.col("c_name"), F.lit(" jr")))
               .otherwise(F.col("c_name")))
    bal_v = F.when((var == 0) & (ent % 4 == 0), F.lit(None)) \
             .otherwise(F.round(F.col("c_acctbal") * 100).cast("long"))
    seg_v = F.when((var == 1) & (ent % 5 == 0), F.lit("UNKNOWN")) \
             .otherwise(F.col("c_mktsegment"))
    recs = c.select(ent.alias("entity_id"), var.alias("variant"),
                    name_v.alias("name_v"), bal_v.alias("bal_v"),
                    seg_v.alias("seg_v"))
    wn = (Window.partitionBy("entity_id")
                .orderBy(F.desc(F.length("name_v")), F.asc("name_v")))
    wb = (Window.partitionBy("entity_id")
                .orderBy(F.desc("variant")))
    names = (recs.withColumn("_r", F.row_number().over(wn))
                 .where(F.col("_r") == 1)
                 .select("entity_id", F.col("name_v").alias("golden_name"),
                         F.col("variant").alias("name_from_variant")))
    bals = (recs.where(F.col("bal_v").isNotNull())
                .withColumn("_r", F.row_number().over(wb))
                .where(F.col("_r") == 1)
                .select("entity_id", F.col("bal_v").alias("golden_bal_cents")))
    segs = (recs.groupBy("entity_id", "seg_v")
                .agg(F.count(F.lit(1)).alias("_c")))
    ws = (Window.partitionBy("entity_id")
                .orderBy(F.desc("_c"), F.asc("seg_v")))
    seg1 = (segs.withColumn("_r", F.row_number().over(ws))
                .where(F.col("_r") == 1)
                .select("entity_id", F.col("seg_v").alias("golden_segment")))
    base = recs.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_records"))
    return (base.join(names, "entity_id")
                .join(bals, "entity_id", "left")
                .join(seg1, "entity_id")
                .transform(_sorted1, "entity_id"))


register(
    "golden_record_merge",
    _golden_record,
    """
WITH recs AS (
  SELECT CAST(FLOOR(c_custkey / 3) AS BIGINT) AS entity_id,
         CAST(c_custkey % 3 AS INT) AS variant,
         CASE WHEN c_custkey % 3 = 1 THEN upper(c_name)
              WHEN c_custkey % 3 = 2 THEN c_name || ' jr'
              ELSE c_name END AS name_v,
         CASE WHEN c_custkey % 3 = 0
                   AND CAST(FLOOR(c_custkey / 3) AS BIGINT) % 4 = 0
              THEN NULL
              ELSE CAST(ROUND(c_acctbal * 100) AS BIGINT) END AS bal_v,
         CASE WHEN c_custkey % 3 = 1
                   AND CAST(FLOOR(c_custkey / 3) AS BIGINT) % 5 = 0
              THEN 'UNKNOWN' ELSE c_mktsegment END AS seg_v
  FROM customer),
names AS (
  SELECT entity_id, name_v AS golden_name,
         variant AS name_from_variant
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY entity_id
          ORDER BY len(name_v) DESC, name_v ASC) AS r FROM recs)
  WHERE r = 1),
bals AS (
  SELECT entity_id, bal_v AS golden_bal_cents
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY entity_id
          ORDER BY variant DESC) AS r FROM recs WHERE bal_v IS NOT NULL)
  WHERE r = 1),
segs AS (SELECT entity_id, seg_v, COUNT(*) AS c
         FROM recs GROUP BY 1, 2),
seg1 AS (
  SELECT entity_id, seg_v AS golden_segment
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY entity_id
          ORDER BY c DESC, seg_v ASC) AS r FROM segs)
  WHERE r = 1),
base AS (SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_records
         FROM recs GROUP BY 1)
SELECT b.entity_id, b.n_records, n.golden_name, n.name_from_variant,
       bl.golden_bal_cents, s.golden_segment
FROM base b JOIN names n USING (entity_id)
LEFT JOIN bals bl USING (entity_id)
JOIN seg1 s USING (entity_id)
ORDER BY b.entity_id
""",
    doc="MDM golden-record survivorship over synthesized duplicate "
        "entities: longest-string, most-recent-non-null, and "
        "most-frequent rules, each with deterministic tie-breaks; "
        "every golden field and its provenance is oracle-replayed.",
)


# ---------------------------------------------------------------------------
# fellegi_sunter_weights (r11, reworked same-round): probabilistic
# record-linkage parameter estimation (Fellegi & Sunter 1969 — the
# model behind Splink-class toolkits). The duplicate universe derives
# every variant from its ENTITY's base row (case/suffix-perturbed
# names, shared balances with a null pattern, segment noise), so field
# agreement carries real signal: m_name lands near the 1/3 the
# perturbation scheme implies while u_name stays near zero, m_seg high
# vs u_seg ~ 1/|segments|. Candidate pairs come from a
# (nationkey, name-digit) BLOCK self-join with the repo's standard
# degenerate-block cap (blocks over _FS_BLOCK_CAP records are excluded
# from pair generation via a broadcast keep-list, mirrored in the
# oracle) — so pair mass is blocks × cap² at worst, never quadratic in
# the corpus; m/u estimated under blocking+cap is the production
# sampling shape. Laplace smoothing ((k+0.5)/(n+1)) keeps every weight
# finite; ln weights publish micro-quantized. One blocked join + ONE
# combinable agg — no per-pair output leaves the executors.
# ---------------------------------------------------------------------------

_FS_BLOCK_CAP = 64


def _fellegi_sunter(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    base = (c.where(F.col("c_custkey") % 3 == 0)
             .select((F.col("c_custkey") / F.lit(3)).cast("long")
                      .alias("entity_id"),
                     F.col("c_name").alias("bname"),
                     F.col("c_nationkey").alias("bnation"),
                     F.round(F.col("c_acctbal") * 100).cast("long")
                      .alias("bbal"),
                     F.col("c_mktsegment").alias("bseg")))
    v = F.col("variant")
    recs = (base.select("*", F.explode(F.array(
                F.lit(0), F.lit(1), F.lit(2))).alias("variant"))
            .select(
                "entity_id", "variant",
                F.concat(F.col("bnation").cast("string"), F.lit("|"),
                         F.substring(F.col("bname"), -2, 2))
                 .alias("block"),
                F.when(v == 1, F.upper(F.col("bname")))
                 .when(v == 2, F.concat(F.col("bname"), F.lit(" jr")))
                 .otherwise(F.col("bname")).alias("name_v"),
                F.when((v == 0) & (F.col("entity_id") % 4 == 0),
                       F.lit(None)).otherwise(F.col("bbal"))
                 .alias("bal_v"),
                F.when((v == 1) & (F.col("entity_id") % 5 == 0),
                       F.lit("UNKNOWN")).otherwise(F.col("bseg"))
                 .alias("seg_v"),
                (F.col("entity_id") * 3 + v).alias("rid")))
    keep = (recs.groupBy("block")
                .agg(F.count(F.lit(1)).alias("_bn"))
                .where(F.col("_bn") <= _FS_BLOCK_CAP)
                .select("block"))
    recs = recs.join(F.broadcast(keep), "block")
    a, b = recs.alias("a"), recs.alias("b")
    pairs = (a.join(b, (F.col("a.block") == F.col("b.block"))
                    & (F.col("a.rid") < F.col("b.rid")))
             .select(
                 (F.col("a.entity_id") == F.col("b.entity_id"))
                  .cast("int").alias("is_match"),
                 (F.upper(F.col("a.name_v")) == F.upper(F.col("b.name_v")))
                  .cast("int").alias("ag_name"),
                 (F.col("a.bal_v") == F.col("b.bal_v"))
                  .cast("int").alias("ag_bal"),
                 (F.col("a.seg_v") == F.col("b.seg_v"))
                  .cast("int").alias("ag_seg")))
    m = F.col("is_match")
    agg = pairs.agg(
        F.sum(m).cast("long").alias("n_match"),
        F.sum(1 - m).cast("long").alias("n_nonmatch"),
        *[F.sum(F.coalesce(F.col(f"ag_{f}"), F.lit(0)) * m).cast("long")
           .alias(f"am_{f}") for f in ("name", "bal", "seg")],
        *[F.sum(F.coalesce(F.col(f"ag_{f}"), F.lit(0)) * (1 - m))
           .cast("long").alias(f"au_{f}") for f in ("name", "bal", "seg")])
    rows = []
    for f in ("name", "bal", "seg"):
        mm = ((F.col(f"am_{f}").cast("double") + F.lit(0.5))
              / (F.col("n_match").cast("double") + F.lit(1.0)))
        uu = ((F.col(f"au_{f}").cast("double") + F.lit(0.5))
              / (F.col("n_nonmatch").cast("double") + F.lit(1.0)))
        rows.append(agg.select(
            F.lit(f).alias("field"),
            F.col("n_match"), F.col("n_nonmatch"),
            F.round(mm * F.lit(1000000.0)).cast("long").alias("m_micro"),
            F.round(uu * F.lit(1000000.0)).cast("long").alias("u_micro"),
            F.round(F.log(mm / uu) * F.lit(1000000.0)).cast("long")
             .alias("w_agree_micro"),
            F.round(F.log((F.lit(1.0) - mm) / (F.lit(1.0) - uu))
                    * F.lit(1000000.0)).cast("long")
             .alias("w_disagree_micro")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("field")


register(
    "fellegi_sunter_weights",
    _fellegi_sunter,
    f"""
WITH base AS (
  SELECT CAST(FLOOR(c_custkey / 3) AS BIGINT) AS entity_id,
         c_name AS bname, c_nationkey AS bnation,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bbal,
         c_mktsegment AS bseg
  FROM customer WHERE c_custkey % 3 = 0),
recs AS (
  SELECT entity_id, v AS variant,
         CAST(bnation AS VARCHAR) || '|' || bname[-2:] AS block,
         CASE WHEN v = 1 THEN upper(bname)
              WHEN v = 2 THEN bname || ' jr' ELSE bname END AS name_v,
         CASE WHEN v = 0 AND entity_id % 4 = 0 THEN NULL
              ELSE bbal END AS bal_v,
         CASE WHEN v = 1 AND entity_id % 5 = 0 THEN 'UNKNOWN'
              ELSE bseg END AS seg_v,
         entity_id * 3 + v AS rid
  FROM base, (SELECT unnest([0, 1, 2]) AS v)),
keep AS (SELECT block FROM recs GROUP BY block
         HAVING COUNT(*) <= {_FS_BLOCK_CAP}),
kept AS (SELECT r.* FROM recs r JOIN keep USING (block)),
pairs AS (
  SELECT CASE WHEN a.entity_id = b.entity_id THEN 1 ELSE 0 END AS is_match,
         COALESCE(CASE WHEN upper(a.name_v) = upper(b.name_v)
                       THEN 1 ELSE 0 END, 0) AS ag_name,
         COALESCE(CASE WHEN a.bal_v = b.bal_v THEN 1 ELSE 0 END, 0) AS ag_bal,
         COALESCE(CASE WHEN a.seg_v = b.seg_v THEN 1 ELSE 0 END, 0) AS ag_seg
  FROM kept a JOIN kept b ON a.block = b.block AND a.rid < b.rid),
agg AS (
  SELECT CAST(SUM(is_match) AS BIGINT) AS n_match,
         CAST(SUM(1 - is_match) AS BIGINT) AS n_nonmatch,
         CAST(SUM(ag_name * is_match) AS BIGINT) AS am_name,
         CAST(SUM(ag_bal * is_match) AS BIGINT) AS am_bal,
         CAST(SUM(ag_seg * is_match) AS BIGINT) AS am_seg,
         CAST(SUM(ag_name * (1 - is_match)) AS BIGINT) AS au_name,
         CAST(SUM(ag_bal * (1 - is_match)) AS BIGINT) AS au_bal,
         CAST(SUM(ag_seg * (1 - is_match)) AS BIGINT) AS au_seg
  FROM pairs),
f AS (
  SELECT 'name' AS field, n_match, n_nonmatch, am_name AS am, au_name AS au
  FROM agg
  UNION ALL
  SELECT 'bal', n_match, n_nonmatch, am_bal, au_bal FROM agg
  UNION ALL
  SELECT 'seg', n_match, n_nonmatch, am_seg, au_seg FROM agg)
SELECT field, n_match, n_nonmatch,
       CAST(ROUND((CAST(am AS DOUBLE) + 0.5)
                  / (CAST(n_match AS DOUBLE) + 1.0) * 1000000.0)
            AS BIGINT) AS m_micro,
       CAST(ROUND((CAST(au AS DOUBLE) + 0.5)
                  / (CAST(n_nonmatch AS DOUBLE) + 1.0) * 1000000.0)
            AS BIGINT) AS u_micro,
       CAST(ROUND(ln(((CAST(am AS DOUBLE) + 0.5)
                      / (CAST(n_match AS DOUBLE) + 1.0))
                     / ((CAST(au AS DOUBLE) + 0.5)
                        / (CAST(n_nonmatch AS DOUBLE) + 1.0)))
                  * 1000000.0) AS BIGINT) AS w_agree_micro,
       CAST(ROUND(ln((1.0 - (CAST(am AS DOUBLE) + 0.5)
                            / (CAST(n_match AS DOUBLE) + 1.0))
                     / (1.0 - (CAST(au AS DOUBLE) + 0.5)
                              / (CAST(n_nonmatch AS DOUBLE) + 1.0)))
                  * 1000000.0) AS BIGINT) AS w_disagree_micro
FROM f ORDER BY field
""",
    doc="Fellegi-Sunter linkage parameters over entity-derived "
        "duplicate variants: capped-block candidate pairs, exact-count "
        "m/u with Laplace smoothing, micro-quantized ln weights; one "
        "blocked join + one combinable agg.")


# ---------------------------------------------------------------------------
# ip_range_lookup_join (r11): the range-LOOKUP join (map a point value
# into a banded dimension — IP→geo, price→bracket, ts→calendar) done
# the way it must be done at 100 TB: the 64-entry range dim is
# DECOMPOSED into the fixed /64 top-bucket grid (a range spanning k
# buckets contributes k rows — bounded by dim shape), broadcast, and
# equi-joined on the bucket key with an exact residual filter — a
# BroadcastHashJoin the fact scan streams through, where the naive
# spelling (broadcast + BETWEEN) is a BroadcastNestedLoopJoin that
# evaluates every range per row. The oracle IS the naive BETWEEN join
# (ground truth, fine at oracle scale), so the decomposition's
# correctness — boundary rows included — is what the gate checks.
# Facts get deterministic 32-bit IPs from the portable md5 fold.
# ---------------------------------------------------------------------------

def _ip_range_lookup(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import md5_hash
    r = F.col("id")
    start = (r * F.lit(67108864)
             + (r * r % F.lit(1000)) * F.lit(4096)).cast("long")
    r1 = r + F.lit(1)
    end = F.when(r == 63, F.lit(1 << 32).cast("long")) \
           .otherwise((r1 * F.lit(67108864)
                       + (r1 * r1 % F.lit(1000)) * F.lit(4096))
                      .cast("long"))
    dim = (spark.range(64)
           .select(F.col("id").alias("range_id"),
                   start.alias("lo"), end.alias("hi")))
    expanded = (dim.select("range_id", "lo", "hi",
                           F.explode(F.sequence(
                               F.shiftrightunsigned("lo", 26),
                               F.shiftrightunsigned(F.col("hi") - 1, 26)))
                            .alias("bucket")))
    e = _t(spark, sf, "events")
    facts = e.select(
        "event_id", "user_id",
        (md5_hash(F.concat(F.lit("ip:"),
                           F.col("user_id").cast("string")))
         % F.lit(1 << 32)).alias("ip"))
    joined = (facts.withColumn("bucket",
                               F.shiftrightunsigned("ip", 26))
              .join(F.broadcast(expanded), "bucket")
              .where((F.col("ip") >= F.col("lo"))
                     & (F.col("ip") < F.col("hi"))))
    return (joined.groupBy("range_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.min("ip").alias("min_ip"), F.max("ip").alias("max_ip"))
            .transform(_sorted1, "range_id"))


register(
    "ip_range_lookup_join",
    _ip_range_lookup,
    """
WITH dim AS (
  SELECT r AS range_id,
         CAST(r * 67108864 + (r * r % 1000) * 4096 AS BIGINT) AS lo,
         CASE WHEN r = 63 THEN CAST(4294967296 AS BIGINT)
              ELSE CAST((r + 1) * 67108864
                        + ((r + 1) * (r + 1) % 1000) * 4096 AS BIGINT)
         END AS hi
  FROM (SELECT unnest(range(0, 64)) AS r)),
facts AS (
  SELECT event_id, user_id,
         ('0x' || substr(md5('ip:' || CAST(user_id AS VARCHAR)), 1, 12))
           ::BIGINT % 4294967296 AS ip
  FROM events)
SELECT d.range_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users,
       MIN(f.ip) AS min_ip, MAX(f.ip) AS max_ip
FROM facts f JOIN dim d ON f.ip >= d.lo AND f.ip < d.hi
GROUP BY d.range_id ORDER BY d.range_id
""",
    doc="Range-lookup join via bucket decomposition: the banded dim "
        "explodes onto a fixed top-bucket grid and broadcast "
        "equi-joins the fact scan (BHJ, not BNLJ); the oracle is the "
        "naive BETWEEN join, so boundary handling is value-checked.",
)
