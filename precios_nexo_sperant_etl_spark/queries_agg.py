"""Aggregation, window, serving-layer, and set-operation queries
(SURVEY §2.4-§2.7) with DuckDB oracles, over the synthetic star schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.exact import dsum
from .operators.dedup import add_row_id, dedup_keep_last
from .operators.join import before_after
from .operators.kpi import kpi_by_group, kpi_cards, value_counts
from .operators.pivot import pct_within_group, pivot_counts
from .operators.serve import distinct_sorted, equality_filters, global_search, sort_page
from .operators.spread import fanout
from .registry import register
from .queries_scale_common import _sorted1
from .sources.tables import table as _t

# DECIMAL type used by functions.exact — the oracle must accumulate in the
# exact same type for bit-identical double results. Scale 2 matches the
# data's true decimal scale (see functions/exact.py docstring).
_DEC = "DECIMAL(18,2)"


# ---------------------------------------------------------------------------
# A2/A3/A4 — global KPI cards: count, mean, exact median
# ---------------------------------------------------------------------------

register(
    "a2_a4_kpi_cards",
    lambda spark, sf: kpi_cards(_t(spark, sf, "lineitem"), "l_extendedprice"),
    f"""
SELECT COUNT(*) AS unidades_totales,
       CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / COUNT(l_extendedprice)
         AS precio_promedio,
       median(l_extendedprice) AS precio_median
FROM lineitem
""",
    doc="A2 count, A3 null-skipping mean (exact decimal sum), A4 exact median.",
)

# ---------------------------------------------------------------------------
# A6 — per-group KPI cards
# ---------------------------------------------------------------------------

register(
    "a6_kpi_by_group",
    lambda spark, sf: kpi_by_group(_t(spark, sf, "orders"), "o_orderstatus", "o_totalprice"),
    f"""
SELECT o_orderstatus,
       COUNT(*) AS unidades,
       CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE) / COUNT(o_totalprice)
         AS precio_promedio,
       median(o_totalprice) AS precio_median
FROM orders GROUP BY o_orderstatus
""",
    doc="A6: per-group count/mean/median (python_json.py:148-153).",
)

# ---------------------------------------------------------------------------
# A5 — value_counts with __NA__ sentinel, count-desc order
# ---------------------------------------------------------------------------

register(
    "a5_value_counts",
    lambda spark, sf: value_counts(_t(spark, sf, "orders"), "o_orderpriority"),
    """
SELECT COALESCE(o_orderpriority, '__NA__') AS value, COUNT(*) AS count
FROM orders GROUP BY 1 ORDER BY count DESC, value ASC
""",
    doc="A5 fillna('__NA__').value_counts() with deterministic ordering.",
)

# ---------------------------------------------------------------------------
# SQL-text interface: the engine is also driven by raw Spark SQL over
# registered views — the SAME SQL string is the DuckDB oracle.
# ---------------------------------------------------------------------------

_SQL_TEXT = """
SELECT o_orderstatus, COALESCE(o_orderpriority, '__NA__') AS priority,
       COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total
FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, priority
"""


def _sql_text(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.tables import register_views
    register_views(spark, sf)
    return spark.sql(_SQL_TEXT)


register(
    "sql_text_interface",
    _sql_text,
    _SQL_TEXT,
    doc="spark.sql() over registered views; identical SQL text is the oracle.",
)

# ---------------------------------------------------------------------------
# A6b — per-group per-state counts (the KPI tree's por_estado subtree,
# python_json.py:154-157), count-desc with deterministic tiebreak
# ---------------------------------------------------------------------------

register(
    "a6_states_by_group",
    lambda spark, sf: _t(spark, sf, "orders")
        .groupBy("o_orderstatus",
                 F.coalesce(F.col("o_orderpriority"), F.lit("__NA__")).alias("estado"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("o_orderstatus", F.desc("count"), F.asc("estado")),
    """
SELECT o_orderstatus, COALESCE(o_orderpriority, '__NA__') AS estado, COUNT(*) AS count
FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, count DESC, estado ASC
""",
    doc="A6 por_estado subtree: nested value_counts per group.",
)

# ---------------------------------------------------------------------------
# A8 — 2-D pivot counts (status × priority)
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

register(
    "a8_pivot_counts",
    lambda spark, sf: pivot_counts(_t(spark, sf, "orders"),
                                   "o_orderstatus", "o_orderpriority", _PRIORITIES),
    "SELECT o_orderstatus,\n"
    + ",\n".join(
        f"""  COUNT(*) FILTER (o_orderpriority = '{p}') AS "{p}" """ for p in _PRIORITIES)
    + "\nFROM orders GROUP BY o_orderstatus",
    doc="A8 stacked-bar cube: groupBy().pivot().count() with pinned columns.",
)

# ---------------------------------------------------------------------------
# A9 — percent-of-total within group (window over reduced rows)
# ---------------------------------------------------------------------------

register(
    "a9_pct_within_group",
    lambda spark, sf: pct_within_group(_t(spark, sf, "orders"),
                                       "o_orderstatus", "o_orderpriority"),
    """
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS count
  FROM orders GROUP BY 1, 2)
SELECT o_orderstatus, o_orderpriority, count,
       CAST(round_even(CAST(100 * count / SUM(count) OVER (PARTITION BY o_orderstatus) AS DECIMAL(20,17)), 2) AS DOUBLE) AS pct
FROM counts
""",
    doc="A9: 100*count/group_total via window, bround half-even.",
)

# ---------------------------------------------------------------------------
# Rollup — hierarchical subtotals (hypertable-rollup-style aggregation;
# beyond the reference's flat groupBys). NULL group keys are sentinel-
# mapped so subtotal rows are distinguishable from genuine null groups.
# ---------------------------------------------------------------------------

register(
    "rollup_status_priority",
    lambda spark, sf: _t(spark, sf, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("o_totalprice")).alias("total"))
        .select(F.coalesce(F.col("o_orderstatus"), F.lit("__ALL__")).alias("status"),
                F.coalesce(F.col("o_orderpriority"), F.lit("__ALL__")).alias("priority"),
                "n", "total"),
    f"""
SELECT COALESCE(o_orderstatus, '__ALL__') AS status,
       COALESCE(o_orderpriority, '__ALL__') AS priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS {_DEC})) AS DOUBLE) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="Hierarchical rollup subtotals (status, priority, grand total).",
)

# ---------------------------------------------------------------------------
# A10/A11 — distinct counts + deterministic top-k of value_counts
# ---------------------------------------------------------------------------

register(
    "a10_distinct_counts",
    lambda spark, sf: _t(spark, sf, "customer").agg(
        F.countDistinct(F.lower(F.trim(F.col("c_mktsegment")))).alias("n_segments"),
        F.countDistinct(F.col("c_nationkey")).alias("n_nations")),
    """
SELECT COUNT(DISTINCT lower(trim(c_mktsegment))) AS n_segments,
       COUNT(DISTINCT c_nationkey) AS n_nations
FROM customer
""",
    doc="A10 nunique() on normalized keys.",
)

register(
    "a11_topk_value_counts",
    lambda spark, sf: _t(spark, sf, "customer")
        .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("c_nationkey")).limit(10),
    """
SELECT c_nationkey, COUNT(*) AS count
FROM customer GROUP BY c_nationkey
ORDER BY count DESC, c_nationkey ASC LIMIT 10
""",
    doc="A11 value_counts().head(10) with deterministic tiebreak.",
)

# ---------------------------------------------------------------------------
# P10 — scatter-plot positive-pair filter (index_2.html:337-342)
# ---------------------------------------------------------------------------

register(
    "p10_scatter_points",
    lambda spark, sf: _t(spark, sf, "part")
        .filter((F.col("p_size") > 0) & (F.col("p_retailprice") > 0))
        .select("p_partkey", F.col("p_size").alias("x"),
                F.col("p_retailprice").alias("y")),
    """
SELECT p_partkey, p_size AS x, p_retailprice AS y
FROM part WHERE p_size > 0 AND p_retailprice > 0
""",
    doc="P10: drop non-plottable points before the scatter aggregation.",
)

# ---------------------------------------------------------------------------
# O2/O4 — total-order sort + offset/limit pagination
# ---------------------------------------------------------------------------

register(
    "o2_o4_sort_page",
    lambda spark, sf: sort_page(
        _t(spark, sf, "customer"),
        [F.col("c_acctbal").desc_nulls_last(), F.col("c_custkey").asc()],
        page=5, page_size=20),
    """
SELECT * FROM customer
ORDER BY c_acctbal DESC NULLS LAST, c_custkey ASC
OFFSET 100 LIMIT 20
""",
    doc="O2 numeric-aware sort + O4 pagination (page 5 × 20 rows).",
)

register(
    "o3_distinct_sorted",
    lambda spark, sf: distinct_sorted(_t(spark, sf, "customer"), "c_mktsegment"),
    "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    doc="O3 sorted label list for filter dropdowns.",
)

# ---------------------------------------------------------------------------
# P8/P9 — equality filter + global case-insensitive search
# ---------------------------------------------------------------------------

register(
    "p8_p9_filter_search",
    lambda spark, sf: global_search(
        equality_filters(_t(spark, sf, "customer"), {"c_mktsegment": "BUILDING"})
            .withColumn("key_str", F.col("c_custkey").cast("string")),
        "19",
        columns=["c_name", "c_mktsegment", "key_str"]).drop("key_str"),
    """
SELECT * FROM customer
WHERE c_mktsegment = 'BUILDING'
  AND contains(lower(concat_ws(chr(31), c_name, c_mktsegment,
                               CAST(c_custkey AS VARCHAR))), '19')
""",
    doc="P8 dropdown filter + P9 substring search across stringified columns.",
)

# ---------------------------------------------------------------------------
# U1 — UNION ALL by name with null backfill (P4 ensure-column)
# ---------------------------------------------------------------------------

def _u1(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey", "o_totalprice")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderpriority")
    return a.unionByName(b, allowMissingColumns=True)


register(
    "u1_union_by_name",
    _u1,
    """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
UNION ALL BY NAME
SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
""",
    doc="U1 pandas concat semantics: align on column-name union, missing → NULL.",
)

# ---------------------------------------------------------------------------
# W2 — dedup keep-last by explicit ordinal
# ---------------------------------------------------------------------------

register(
    "w2_dedup_keep_last",
    lambda spark, sf: dedup_keep_last(
        _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        ["l_orderkey"], ordinal=["l_linenumber", "l_quantity"]),
    """
SELECT l_orderkey, l_linenumber, l_quantity FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber DESC, l_quantity DESC) AS rn
  FROM lineitem) t WHERE rn = 1
""",
    doc="W2 positional keep-last via explicit ingest-ordinal window.",
)

# ---------------------------------------------------------------------------
# W4 — deterministic dense row id
# ---------------------------------------------------------------------------

register(
    "w4_row_id",
    lambda spark, sf: add_row_id(
        _t(spark, sf, "orders").select("o_orderkey", "o_totalprice"),
        order_by=[F.col("o_orderkey")], name="row_id"),
    """
SELECT o_orderkey, o_totalprice,
       ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id
FROM orders
""",
    doc="W4 dense 0-based row id over an explicit total order.",
)

# ---------------------------------------------------------------------------
# J3 + P6 — before/after detail join, changed rows only
# ---------------------------------------------------------------------------

def _j3(spark: SparkSession, sf: str) -> DataFrame:
    from .plans.price_pipeline import core_enriched
    enriched = core_enriched(spark, sf)
    before = enriched.select("c_custkey",
                             F.col("precio_antes").alias("Precio"),
                             F.col("estado_antes").alias("Estado"))
    after = enriched.select("c_custkey",
                            F.col("precio_despues").alias("Precio"),
                            F.col("estado_despues").alias("Estado"))
    detail = before_after(before, after, on=["c_custkey"])
    from .functions.compare import isclose, nullsafe_neq
    return (detail
            .withColumn("Cambio_PrecioLista",
                        ~isclose(F.col("Precio_Antes"), F.col("Precio_Despues")))
            .withColumn("Cambio_Estado",
                        nullsafe_neq(F.col("Estado_Antes"), F.col("Estado_Despues")))
            .filter(F.col("Cambio_PrecioLista") | F.col("Cambio_Estado")))


register(
    "j3_p6_change_detail",
    _j3,
    """
WITH snap AS (
  SELECT o_custkey, o_totalprice, o_orderstatus FROM (
    SELECT o_custkey, o_totalprice, o_orderstatus,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC NULLS FIRST, o_orderkey DESC) AS rn
    FROM orders) t WHERE rn = 1),
detail AS (
  SELECT c.c_custkey,
         c.c_acctbal AS "Precio_Antes", c.c_mktsegment AS "Estado_Antes",
         COALESCE(s.o_totalprice, c.c_acctbal) AS "Precio_Despues",
         COALESCE(s.o_orderstatus, c.c_mktsegment) AS "Estado_Despues"
  FROM customer c LEFT JOIN snap s ON c.c_custkey = s.o_custkey),
flagged AS (
  SELECT *,
    NOT (CASE WHEN "Precio_Antes" IS NULL AND "Precio_Despues" IS NULL THEN TRUE
         ELSE COALESCE(abs("Precio_Antes" - "Precio_Despues")
                       <= 1e-8 + 1e-5 * abs("Precio_Despues"), FALSE) END)
      AS "Cambio_PrecioLista",
    "Estado_Antes" IS DISTINCT FROM "Estado_Despues" AS "Cambio_Estado"
  FROM detail)
SELECT c_custkey, "Precio_Antes", "Estado_Antes", "Precio_Despues", "Estado_Despues",
       "Cambio_PrecioLista", "Cambio_Estado"
FROM flagged WHERE "Cambio_PrecioLista" OR "Cambio_Estado"
""",
    doc="J3 before/after suffixed join + P6 changed-rows filter (audit detail).",
)

# ---------------------------------------------------------------------------
# TPC-H Q1-style pricing summary — headline bench query (A1-class agg at scale)
# ---------------------------------------------------------------------------

def _q1(spark: SparkSession, sf: str) -> DataFrame:
    # Derived prices are computed entirely in decimal: the inputs are
    # 2-decimal business values, so (12,2)*(5,2)→(18,4)→*(5,2)→(24,6) is
    # exact in both Spark and DuckDB — no double rounding anywhere until
    # the final cast of the (already exact) group sum.
    # fanout: at bench scale lineitem is one parquet file, so the
    # 8-way decimal partial aggregation otherwise runs in a single scan
    # task (~0.9 s serial); no-op on real multi-split inputs. Decimal
    # sums are exact integers, so the spread cannot change any value.
    li = fanout(_t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00")
        .cast("timestamp_ntz"))
        .select("l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice", "l_discount", "l_tax"))
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = ep * (F.lit(1) - disc)
    charge = disc_price * (F.lit(1) + tax)
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
                dsum(F.col("l_quantity")).alias("sum_qty"),
                dsum(F.col("l_extendedprice")).alias("sum_base_price"),
                F.sum(disc_price).cast("double").alias("sum_disc_price"),
                F.sum(charge).cast("double").alias("sum_charge"),
                (dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
                (dsum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
                (dsum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"))
            .transform(_sorted1, "l_returnflag", "l_linestatus"))


register(
    "tpch_q1_pricing_summary",
    _q1,
    f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))
           * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS {_DEC})) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS {_DEC})) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1-shaped pricing summary; exact decimal product accumulation.",
)

# ---------------------------------------------------------------------------
# CUBE aggregation — all subtotal combinations in ONE pass (the engine
# expands grouping sets map-side; never N separate scans)
# ---------------------------------------------------------------------------

def _cube(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
              .agg(dsum(F.col("l_quantity")).alias("sum_qty"),
                   F.count(F.lit(1)).alias("n_rows"))
              .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
                      F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
                      "sum_qty", "n_rows")
              .orderBy("returnflag", "linestatus"))


register(
    "cube_flag_status",
    _cube,
    """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
    doc="CUBE over (returnflag, linestatus): every subtotal combination in "
        "one shuffle; NULL grouping slots surfaced as 'ALL'.",
)

# ---------------------------------------------------------------------------
# Approximate aggregates (HLL distinct, quantile sketch) — checked by
# bounding them against the exact answers INSIDE the query, so the oracle
# can still hash-match: the exact values plus always-true bound flags.
# ---------------------------------------------------------------------------

def _approx(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    agg = o.agg(
        F.countDistinct("o_custkey").alias("exact_custkeys"),
        F.approx_count_distinct("o_custkey", 0.02).alias("_hll"),
        F.expr("percentile(o_totalprice, 0.5)").alias("exact_p50"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("_p50"))
    return agg.select(
        "exact_custkeys",
        ((F.abs(F.col("_hll") - F.col("exact_custkeys"))
          / F.col("exact_custkeys")) <= 0.05).alias("hll_within_5pct"),
        "exact_p50",
        ((F.abs(F.col("_p50") - F.col("exact_p50"))
          / F.col("exact_p50")) <= 0.01).alias("p50_within_1pct"))


register(
    "approx_agg_bounds",
    _approx,
    """
SELECT COUNT(DISTINCT o_custkey) AS exact_custkeys,
       TRUE AS hll_within_5pct,
       quantile_cont(o_totalprice, 0.5) AS exact_p50,
       TRUE AS p50_within_1pct
FROM orders
""",
    doc="HLL distinct + quantile sketch vs exact, as oracle-checkable "
        "bound flags: the sketches must land within their error budgets.",
)

# ---------------------------------------------------------------------------
# GROUPING SETS — explicit subtotal list (finer control than CUBE: only
# the sets the report needs, still one pass / one shuffle)
# ---------------------------------------------------------------------------

def _gsets(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return (o.groupingSets(
                [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
                "o_orderstatus", "o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  dsum(F.col("o_totalprice")).alias("total_price"))
             .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                     F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                     "n_orders", "total_price")
             .orderBy("status", "priority"))


register(
    "grouping_sets_orders",
    _gsets,
    """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY status, priority
""",
    doc="GROUPING SETS: exactly the (status, priority) / (status) / () "
        "subtotals, one shuffle.",
)

# ---------------------------------------------------------------------------
# Window-analytics suite — lag/lead/rank/running totals per customer (the
# analytic-function family beyond the dedup windows)
# ---------------------------------------------------------------------------

def _window_suite(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    o = _t(spark, sf, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    price = F.col("o_totalprice").cast("decimal(18,2)")
    return (o.select(
                "o_custkey", "o_orderkey", "o_orderdate",
                F.row_number().over(w).alias("order_seq"),
                F.lag("o_totalprice", 1).over(w).alias("prev_price"),
                F.lead("o_totalprice", 1).over(w).alias("next_price"),
                F.sum(price).over(wsum).cast("double").alias("running_total"),
                F.rank().over(
                    Window.partitionBy("o_custkey")
                          .orderBy(F.desc("o_totalprice"), "o_orderkey"))
                 .alias("price_rank"))
            .orderBy("o_custkey", "order_seq"))


register(
    "window_analytics_suite",
    _window_suite,
    """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(ROW_NUMBER() OVER w AS INT) AS order_seq,
       lag(o_totalprice, 1) OVER w AS prev_price,
       lead(o_totalprice, 1) OVER w AS next_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
       CAST(RANK() OVER (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey) AS INT)
         AS price_rank
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, order_seq
""",
    doc="Analytic-window family: lag/lead/rank/dense running totals per "
        "customer, one shuffle on the partition key.",
)

# ---------------------------------------------------------------------------
# Period-over-period: monthly revenue with lag-based deltas
# ---------------------------------------------------------------------------

def _mom(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    o = _t(spark, sf, "orders")
    monthly = (o.groupBy(F.date_trunc("month", F.col("o_orderdate"))
                          .alias("month"))
                 .agg(dsum(F.col("o_totalprice")).alias("revenue")))
    w = Window.orderBy("month")  # |months| rows — tiny, single task is fine
    return (monthly
            .withColumn("prev_revenue", F.lag("revenue").over(w))
            .withColumn("mom_pct",
                        F.bround((F.col("revenue") - F.col("prev_revenue"))
                                 / F.col("prev_revenue"), 4))
            .orderBy("month"))


register(
    "monthly_revenue_mom",
    _mom,
    """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1)
SELECT month, revenue,
       lag(revenue) OVER (ORDER BY month) AS prev_revenue,
       CAST(round_even(CAST((revenue - lag(revenue) OVER (ORDER BY month))
            / lag(revenue) OVER (ORDER BY month) AS DECIMAL(20,17)), 4)
         AS DOUBLE) AS mom_pct
FROM m ORDER BY month
""",
    doc="Monthly revenue with lag-based month-over-month deltas; the lag "
        "window runs on the already-reduced |months| rows.",
)

# ---------------------------------------------------------------------------
# Histogram: fixed-width price buckets (floor binning — portable, unlike
# width_bucket which DuckDB lacks)
# ---------------------------------------------------------------------------

register(
    "price_histogram",
    lambda spark, sf: _t(spark, sf, "orders")
        .select(F.floor(F.col("o_totalprice") / 50_000).cast("long")
                 .alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("bucket_low", (F.col("bucket") * 50_000).cast("double"))
        .orderBy("bucket"),
    """
SELECT bucket, COUNT(*) AS n_orders,
       CAST(bucket * 50000 AS DOUBLE) AS bucket_low
FROM (SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket
      FROM orders) t
GROUP BY bucket ORDER BY bucket
""",
    doc="Fixed-width histogram via floor binning — combinable one-shuffle "
        "group count.",
)

# ---------------------------------------------------------------------------
# Data-quality profile: per-column null / distinct / extremes in ONE scan
# ---------------------------------------------------------------------------

def _profile(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    wide = o.agg(*aggs)
    # unpivot to one row per column (stack is codegen; 3 metrics each)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct" for c in cols)
    return (wide.selectExpr(
                f"stack({len(cols)}, {stack_args}) AS "
                "(column_name, n_rows, n_nulls, n_distinct)")
            .orderBy("column_name"))


register(
    "table_profile_orders",
    _profile,
    """
WITH w AS (
  SELECT COUNT(*) AS rows_,
    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk,
    COUNT(DISTINCT o_orderkey) AS dk,
    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc,
    COUNT(DISTINCT o_custkey) AS dc,
    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ns,
    COUNT(DISTINCT o_orderstatus) AS ds,
    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nt,
    COUNT(DISTINCT o_totalprice) AS dt,
    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS np,
    COUNT(DISTINCT o_orderpriority) AS dp
  FROM orders)
SELECT * FROM (
  SELECT 'o_orderkey' AS column_name, rows_ AS n_rows, nk AS n_nulls, dk AS n_distinct FROM w
  UNION ALL SELECT 'o_custkey', rows_, nc, dc FROM w
  UNION ALL SELECT 'o_orderstatus', rows_, ns, ds FROM w
  UNION ALL SELECT 'o_totalprice', rows_, nt, dt FROM w
  UNION ALL SELECT 'o_orderpriority', rows_, np, dp FROM w)
ORDER BY column_name
""",
    doc="Per-column null/distinct profile in one scan, unpivoted via "
        "stack — the schema-audit pass.",
)


# ---------------------------------------------------------------------------
# Referential-integrity audit: every FK edge of the star schema in one
# result — row counts, distinct keys, orphans (child key with no parent),
# and null keys. The ETL gate that runs before anything joins.
# Scale shape: one left join + combinable agg per edge; dim-side parents
# broadcast, the two fact-fact edges shuffle on the key like any join.
# ---------------------------------------------------------------------------

_FK_EDGES = [
    # (edge label, child table, child key, parent table, parent key)
    ("customer.nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _referential_integrity(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass form (r12): the 7-branch per-edge union planned 7 child
    scans + 7 single-row aggs + 7 parent-distinct exchanges behind 7
    broadcast builds (~0.3 s exchange floor each — the whole audit sat
    at ~1.0 s). Instead child keys AND parent keys of every FK edge are
    projected into ONE tall (edge_id, key, is_parent) relation — each
    TABLE scanned once, lineitem's 3 edges via a single explode —
    grouped once by (edge, key) with ``sum(child)`` / ``max(is_parent)``
    (no parent-side distinct needed: the group absorbs duplicates), and
    folded to the 7 audit rows with conditional sums. No join, no
    broadcast: orphanhood is ``max(is_parent) = 0`` inside the key's own
    group (guide §2.3 shuffle keys not payloads; §2.4 one exchange where
    14 stood). All counts stay integer-exact: n_rows = Σ child counts,
    n_keys = non-null groups with a child row, orphans/null-keys =
    conditional sums over child counts. Keys are cast to BIGINT for the
    union (all FK columns are integral; the cast is injective so
    distinctness and null-ness are unchanged)."""
    frames = []
    by_child: dict[str, list[tuple[int, str]]] = {}
    by_parent: dict[str, list[tuple[int, str]]] = {}
    for i, (edge, child, ck, parent, pk) in enumerate(_FK_EDGES):
        by_child.setdefault(child, []).append((i, ck))
        by_parent.setdefault(parent, []).append((i, pk))

    def _tagged(table: str, pairs: list[tuple[int, str]], is_parent: int):
        t = _t(spark, sf, table)
        structs = [F.struct(F.lit(i).alias("_e"),
                            F.col(c).cast("bigint").alias("_k"))
                   for i, c in pairs]
        if len(structs) == 1:
            sel = t.select(structs[0].alias("_s"))
        else:
            sel = t.select(F.explode(F.array(*structs)).alias("_s"))
        return sel.select("_s._e", "_s._k",
                          F.lit(is_parent).alias("_p"))

    for table, pairs in by_child.items():
        frames.append(_tagged(table, pairs, 0))
    for table, pairs in by_parent.items():
        frames.append(_tagged(table, pairs, 1))
    tall = frames[0]
    for f in frames[1:]:
        tall = tall.unionByName(f)

    grouped = (tall.groupBy("_e", "_k")
               .agg(F.sum(F.lit(1) - F.col("_p")).alias("_n"),
                    F.max("_p").alias("_hp")))
    labels = F.array(*[F.lit(e[0]) for e in _FK_EDGES])
    out = (grouped.groupBy("_e")
           .agg(F.sum("_n").alias("n_rows"),
                F.count(F.when(F.col("_k").isNotNull() & (F.col("_n") > 0),
                               1)).alias("n_keys"),
                F.sum(F.when(F.col("_k").isNotNull() & (F.col("_hp") == 0),
                             F.col("_n")).otherwise(0)).alias("n_orphans"),
                F.sum(F.when(F.col("_k").isNull(), F.col("_n")).otherwise(0))
                 .alias("n_null_keys"))
           .select(F.element_at(labels, F.col("_e") + 1).alias("edge"),
                   "n_rows", "n_keys", "n_orphans", "n_null_keys"))
    return _sorted1(out, "edge")


_RI_SQL = "\nUNION ALL\n".join(f"""
SELECT '{edge}' AS edge,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT c.{ck}) AS n_keys,
       CAST(SUM(CASE WHEN c.{ck} IS NOT NULL AND p._pk IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
       CAST(SUM(CASE WHEN c.{ck} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_keys
FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} AS _pk FROM {parent}) p
  ON c.{ck} = p._pk""" for edge, child, ck, parent, pk in _FK_EDGES)

register(
    "referential_integrity",
    _referential_integrity,
    _RI_SQL + "\nORDER BY edge",
    doc="One-result referential-integrity audit of every FK edge: "
        "rows, distinct keys, orphans, null keys per edge.",
)


# ---------------------------------------------------------------------------
# Per-group OLS trend: slope/intercept of o_totalprice against order
# date, per priority class. The five sufficient statistics (n, Σx, Σx²,
# Σy, Σxy) are EXACT — integer/decimal accumulation, so they are
# partition-independent and engine-identical — and only the final slope/
# intercept arithmetic runs in double (fixed-order scalar ops over equal
# operands → identical results). This is the map-side-combinable way to
# do regression at 100 TB: one grouped agg, no per-group sorting, no
# driver math.
# ---------------------------------------------------------------------------

def _price_trend(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    x = F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01").cast("date")).cast("long")
    y = F.col("o_totalprice").cast(_DEC)
    agg = (o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(x).alias("_sx"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y).cast("decimal(38,2)").alias("_sy"),
        F.sum(x * y).cast("decimal(38,2)").alias("_sxy")))
    n = F.col("n_orders").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return (agg.select("o_orderpriority", "n_orders",
                       slope.alias("slope_per_day"),
                       intercept.alias("intercept"))
               .transform(_sorted1, "o_orderpriority"))


register(
    "price_trend_by_priority",
    _price_trend,
    f"""
WITH s AS (
  SELECT o_orderpriority,
         COUNT(*) AS n_orders,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
         CAST(SUM(x * y) AS DECIMAL(38,2)) AS sxy
  FROM (SELECT o_orderpriority,
               CAST(datediff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(o_totalprice AS {_DEC}) AS y
        FROM orders)
  GROUP BY o_orderpriority)
SELECT o_orderpriority, n_orders,
       (CAST(n_orders AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n_orders AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_per_day,
       (CAST(sy AS DOUBLE)
          - (CAST(n_orders AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n_orders AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * CAST(sx AS DOUBLE))
         / CAST(n_orders AS DOUBLE) AS intercept
FROM s ORDER BY o_orderpriority
""",
    doc="Per-priority OLS trend of order value over time from five "
        "exact sufficient statistics; double math only in the final "
        "scalar slope/intercept.",
)
