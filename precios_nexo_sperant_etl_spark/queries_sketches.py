"""Sketch-operator queries: Count-Min term counts, HyperLogLog distinct
estimates, Bloom-filter join pre-filtering — with exact companions so
every approximation ships with its measured error.

Beyond-reference surface. All three sketches are deterministic integer
constructions over the canonical 48-bit md5 hash, so the oracles replay
them verbatim in SQL and the driver's value-hash check pins not just
"an estimate" but the exact sketch contents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.sketches import (KMV_SPACE, bloom_bits, bloom_probe,
                                 cms_counters, cms_estimate, hll_estimate,
                                 hll_registers, kmv_sketch)
from .operators.text import tokens
from .queries_scale_common import _sorted1
from .registry import register
from .sources.tables import table as _t

_DUCK_TOKENS = "string_split_regex(trim(text), '\\s+')"

#: DuckDB twin of text.md5_hash (48-bit integer hash of a string).
_DUCK_H = "('0x' || substr(md5({s}), 1, 12))::BIGINT"


def _duck_bucket(s: str, seed: int, width: int) -> str:
    seeded = "'" + str(seed) + ":' || " + s
    return f"{_DUCK_H.format(s=seeded)} % {width}"


# ---------------------------------------------------------------------------
# cms_term_counts: Count-Min estimates for the exact top-20 terms.
# depth 4 × width 256 — small enough that sf0.01's vocabulary collides,
# so the overcount column is non-trivially exercised; the CMS guarantee
# (est >= exact, always) is pinned by the oracle hash AND a property
# test. At 100 TB the counter table is still 1024 rows.
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 256


def _cms_term_counts(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    terms = (d.select(F.explode(tokens(F.col("text"))).alias("term"))
              .where(F.col("term") != "")
              .groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt")))
    counters = cms_counters(terms, "term", "exact_cnt", _CMS_D, _CMS_W)
    top = (terms.orderBy(F.desc("exact_cnt"), F.asc("term")).limit(20))
    est = cms_estimate(top, counters, "term", _CMS_D, _CMS_W)
    return (est.select("term", "exact_cnt", "cms_est",
                       (F.col("cms_est") - F.col("exact_cnt"))
                       .alias("overcount"))
               .orderBy(F.desc("exact_cnt"), F.asc("term")))


_CMS_BUCKETS = ", ".join(
    f"({_duck_bucket('term', i, _CMS_W)}) AS b{i}" for i in range(_CMS_D))
_CMS_COUNTER_ROWS = " UNION ALL ".join(
    f"SELECT {i} AS row, b{i} AS bucket, exact_cnt FROM tb"
    for i in range(_CMS_D))
_CMS_MIN = "least(" + ", ".join(f"c{i}.counter" for i in range(_CMS_D)) + ")"
_CMS_JOINS = " ".join(
    f"JOIN counters c{i} ON c{i}.row = {i} AND c{i}.bucket = t.b{i}"
    for i in range(_CMS_D))

register(
    "cms_term_counts",
    _cms_term_counts,
    f"""
WITH tc AS (
  SELECT term, COUNT(*) AS exact_cnt
  FROM (SELECT unnest({_DUCK_TOKENS}) AS term FROM documents)
  WHERE term <> '' GROUP BY term),
tb AS (SELECT term, exact_cnt, {_CMS_BUCKETS} FROM tc),
counters AS (
  SELECT row, bucket, CAST(SUM(exact_cnt) AS BIGINT) AS counter
  FROM ({_CMS_COUNTER_ROWS}) GROUP BY row, bucket),
top20 AS (SELECT * FROM tb ORDER BY exact_cnt DESC, term LIMIT 20)
SELECT t.term, t.exact_cnt, {_CMS_MIN} AS cms_est,
       {_CMS_MIN} - t.exact_cnt AS overcount
FROM top20 t {_CMS_JOINS}
ORDER BY exact_cnt DESC, term
""",
    doc="Count-Min (4×256) term-count estimates for the exact top-20 "
        "terms, with the overcount each estimate carries.",
)


# ---------------------------------------------------------------------------
# hll_distinct_terms: per-source HLL (p=6, m=64) distinct-term estimate
# next to the exact distinct count. The register table is pinned down to
# the scaled harmonic sum (exact integer), so the hash check covers the
# whole sketch, not only the final float.
# ---------------------------------------------------------------------------

def _hll_distinct_terms(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    items = (d.select("source",
                      F.explode(tokens(F.col("text"))).alias("term"))
              .where(F.col("term") != ""))
    regs = hll_registers(items, "term", ["source"], p=6)
    est = hll_estimate(regs, ["source"], p=6)
    exact = (items.groupBy("source")
             .agg(F.count_distinct("term").alias("exact_distinct")))
    return (est.join(exact, "source")
               .select("source", "n_registers_set", "max_rho", "scaled_sum",
                       "hll_estimate", "exact_distinct")
               .transform(_sorted1, "source"))


_HLL_H = _DUCK_H.format(s="term")

register(
    "hll_distinct_terms",
    _hll_distinct_terms,
    f"""
WITH it AS (
  SELECT source, term
  FROM (SELECT source, unnest({_DUCK_TOKENS}) AS term FROM documents)
  WHERE term <> ''),
hr AS (
  SELECT source, h % 64 AS bucket, (h - h % 64) // 64 AS v
  FROM (SELECT source, {_HLL_H} AS h FROM it)),
regs AS (
  SELECT source, bucket,
         MAX(CASE WHEN v = 0 THEN 43
                  ELSE 43 - CAST(length(bin(v)) AS INT) END) AS rho
  FROM hr GROUP BY source, bucket),
agg AS (
  SELECT source, CAST(COUNT(*) AS INT) AS n_registers_set,
         CAST(MAX(rho) AS INT) AS max_rho,
         CAST(SUM(1::BIGINT << (43 - rho)) AS BIGINT)
           + (64 - COUNT(*)) * (1::BIGINT << 43) AS scaled_sum
  FROM regs GROUP BY source),
ex AS (SELECT source, COUNT(DISTINCT term) AS exact_distinct
       FROM it GROUP BY source)
SELECT a.source, a.n_registers_set, a.max_rho, a.scaled_sum,
       0.709 * 64 * 64 * CAST(1::BIGINT << 43 AS DOUBLE)
         / CAST(a.scaled_sum AS DOUBLE) AS hll_estimate,
       ex.exact_distinct
FROM agg a JOIN ex USING (source) ORDER BY source
""",
    doc="Per-source HyperLogLog (p=6) distinct-term estimate with the "
        "exact distinct count and the full integer register summary.",
)


# ---------------------------------------------------------------------------
# bloom_join_prefilter: Bloom over one segment's customer keys probed by
# every order — the classic semi-join pre-filter that drops most of a
# fact scan before the shuffling join. Reports, per order priority, how
# many orders the bloom admits vs truly match, i.e. the measured FP
# accounting for this (k=3, m=8192) geometry.
# ---------------------------------------------------------------------------

_BLOOM_K, _BLOOM_M = 3, 8192


def _bloom_join_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    cust = (_t(spark, sf, "customer")
            .where(F.col("c_mktsegment") == "AUTOMOBILE"))
    bits = bloom_bits(cust, "c_custkey", _BLOOM_K, _BLOOM_M)
    orders = _t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority")
    probed = bloom_probe(orders, bits, "o_custkey", _BLOOM_K, _BLOOM_M)
    truth = (orders.join(cust.select("c_custkey"),
                         orders.o_custkey == F.col("c_custkey"), "left_semi")
                   .select("o_orderkey").withColumn("_true", F.lit(1)))
    return (probed.join(truth, "o_orderkey", "left")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.coalesce("_true", F.lit(0))).cast("bigint")
                  .alias("n_true_match"),
                 F.sum(F.col("bloom_pass").cast("bigint")).cast("bigint")
                  .alias("n_bloom_pass"),
                 F.sum(((F.col("bloom_pass").cast("int")
                         - F.coalesce("_true", F.lit(0)))).cast("bigint"))
                  .cast("bigint").alias("n_false_pos"))
            .transform(_sorted1, "o_orderpriority"))


_BLOOM_POS = " UNION ALL ".join(
    f"SELECT {_duck_bucket('c_custkey::VARCHAR', i, _BLOOM_M)} AS bit "
    "FROM seg" for i in range(_BLOOM_K))
_BLOOM_PROBE_HITS = " + ".join(
    f"(CASE WHEN {_duck_bucket('o.o_custkey::VARCHAR', i, _BLOOM_M)} "
    "IN (SELECT bit FROM bits) THEN 1 ELSE 0 END)"
    for i in range(_BLOOM_K))

register(
    "bloom_join_prefilter",
    _bloom_join_prefilter,
    f"""
WITH seg AS (SELECT c_custkey FROM customer
             WHERE c_mktsegment = 'AUTOMOBILE'),
bits AS (SELECT DISTINCT bit FROM ({_BLOOM_POS})),
probe AS (
  SELECT o.o_orderkey, o.o_orderpriority,
         ({_BLOOM_PROBE_HITS}) = {_BLOOM_K} AS bloom_pass,
         CASE WHEN o.o_custkey IN (SELECT c_custkey FROM seg)
              THEN 1 ELSE 0 END AS is_true
  FROM orders o)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(is_true) AS BIGINT) AS n_true_match,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pass,
       CAST(SUM((CASE WHEN bloom_pass THEN 1 ELSE 0 END) - is_true)
            AS BIGINT) AS n_false_pos
FROM probe GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="Bloom pre-filter (k=3, m=8192) over one segment's customers "
        "probed by all orders: per-priority admitted vs true matches "
        "and the measured false-positive count.",
)


# ---------------------------------------------------------------------------
# hll_set_algebra: distinct-term union/intersection between two corpus
# slices by REGISTER algebra — union = per-bucket max of the two
# register tables (the sketch-level OR), intersection by inclusion-
# exclusion. This is what you do at 100 TB when the two slices live in
# different tables/clusters: ship 64 registers each, not the vocabulary.
# Exact companions quantify the error on this corpus.
# ---------------------------------------------------------------------------

def _hll_set_algebra(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    items = (d.where(F.col("lang").isin("en", "es"))
              .select("lang", F.explode(tokens(F.col("text"))).alias("term"))
              .where(F.col("term") != ""))
    regs = hll_registers(items, "term", ["lang"], p=6)
    union_regs = (regs.groupBy("bucket").agg(F.max("rho").alias("rho"))
                      .withColumn("lang", F.lit("both")))
    est = hll_estimate(regs.unionByName(union_regs), ["lang"], p=6)
    # one row per slice → pivot to a single row of scalars
    e = (est.groupBy().pivot("lang", ["en", "es", "both"])
            .agg(F.first("hll_estimate")))
    exact = (items.select("lang", "term").distinct()
             .groupBy().agg(
                 F.count_distinct(F.when(F.col("lang") == "en",
                                         F.col("term"))).alias("exact_en"),
                 F.count_distinct(F.when(F.col("lang") == "es",
                                         F.col("term"))).alias("exact_es"),
                 F.count_distinct("term").alias("exact_union")))
    return (e.crossJoin(exact)
             .select(F.col("en").alias("hll_en"),
                     F.col("es").alias("hll_es"),
                     F.col("both").alias("hll_union"),
                     (F.col("en") + F.col("es") - F.col("both"))
                       .alias("hll_intersection"),
                     "exact_en", "exact_es", "exact_union",
                     (F.col("exact_en") + F.col("exact_es")
                      - F.col("exact_union")).alias("exact_intersection")))


def _duck_hll_est(regs_cte: str) -> str:
    """DuckDB HLL estimate (p=6) over a register CTE ``(bucket, rho)``."""
    return f"""(
  SELECT 0.709 * 64 * 64 * CAST(1::BIGINT << 43 AS DOUBLE)
         / CAST(CAST(SUM(1::BIGINT << (43 - rho)) AS BIGINT)
                + (64 - COUNT(*)) * (1::BIGINT << 43) AS DOUBLE)
  FROM {regs_cte})"""


register(
    "hll_set_algebra",
    _hll_set_algebra,
    f"""
WITH it AS (
  SELECT lang, term
  FROM (SELECT lang, unnest({_DUCK_TOKENS}) AS term FROM documents
        WHERE lang IN ('en', 'es'))
  WHERE term <> ''),
hr AS (
  SELECT lang, h % 64 AS bucket,
         CASE WHEN (h - h % 64) // 64 = 0 THEN 43
              ELSE 43 - CAST(length(bin((h - h % 64) // 64)) AS INT)
         END AS rho
  FROM (SELECT lang, {_HLL_H} AS h FROM it)),
regs AS (SELECT lang, bucket, MAX(rho) AS rho FROM hr
         GROUP BY lang, bucket),
uregs AS (SELECT bucket, MAX(rho) AS rho FROM regs GROUP BY bucket),
ex AS (SELECT COUNT(DISTINCT CASE WHEN lang = 'en' THEN term END)
                 AS exact_en,
              COUNT(DISTINCT CASE WHEN lang = 'es' THEN term END)
                 AS exact_es,
              COUNT(DISTINCT term) AS exact_union
       FROM it)
SELECT {_duck_hll_est("(SELECT bucket, rho FROM regs WHERE lang = 'en')")}
         AS hll_en,
       {_duck_hll_est("(SELECT bucket, rho FROM regs WHERE lang = 'es')")}
         AS hll_es,
       {_duck_hll_est("uregs")} AS hll_union,
       {_duck_hll_est("(SELECT bucket, rho FROM regs WHERE lang = 'en')")}
         + {_duck_hll_est("(SELECT bucket, rho FROM regs WHERE lang = 'es')")}
         - {_duck_hll_est("uregs")} AS hll_intersection,
       exact_en, exact_es, exact_union,
       exact_en + exact_es - exact_union AS exact_intersection
FROM ex
""",
    doc="HLL register algebra: union (per-bucket max) and inclusion-"
        "exclusion intersection of two corpus slices' distinct-term "
        "sketches, with exact companions.",
)


# ---------------------------------------------------------------------------
# histogram_quantile_sketch: the 4th sketch — mergeable approximate
# quantiles from a fixed 64-bin equi-width histogram (bin counts add,
# so partial aggregation / streaming maintenance work exactly like the
# other three). Bin assignment is INTEGER arithmetic over cents; the
# only doubles are the final midpoint estimate and the error-bound
# check against the exact interpolated median. At 100 TB the shuffle
# carries ≤ groups×64 rows; the exact companion (a per-group sort)
# is the thing this sketch exists to avoid — here it doubles as the
# quality gate.
# ---------------------------------------------------------------------------

_HQ_BINS = 64


def _hist_quantile(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    o = _t(spark, sf, "orders").select(
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    rng = o.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = (o.crossJoin(F.broadcast(rng))
               .select("o_orderstatus", "lo", "hi",
                       F.expr(f"((cents - lo) * {_HQ_BINS}) "
                              "div (hi - lo + 1)").alias("bin")))
    hist = (binned.groupBy("o_orderstatus", "bin")
                  .agg(F.count(F.lit(1)).alias("cnt")))
    tot = hist.groupBy("o_orderstatus").agg(F.sum("cnt").alias("n_orders"))
    w = (Window.partitionBy("o_orderstatus").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    med = (cum.join(tot, "o_orderstatus")
              .where(F.col("cum") * 2 >= F.col("n_orders"))
              .groupBy("o_orderstatus")
              .agg(F.min("bin").alias("median_bin"),
                   F.max("n_orders").alias("n_orders")))
    exact = (_t(spark, sf, "orders").groupBy("o_orderstatus")
             .agg(F.expr("percentile(o_totalprice, 0.5)")
                  .alias("exact_p50")))
    binw = (F.col("hi") - F.col("lo") + 1).cast("double") / _HQ_BINS / 100.0
    approx = (F.col("lo").cast("double")
              + (F.col("median_bin").cast("double") + 0.5)
              * ((F.col("hi") - F.col("lo") + 1).cast("double") / _HQ_BINS)
              ) / 100.0
    return (med.crossJoin(F.broadcast(rng)).join(exact, "o_orderstatus")
            .select("o_orderstatus", "n_orders", "median_bin",
                    approx.alias("approx_p50"), "exact_p50",
                    binw.alias("bin_width"),
                    (F.abs(approx - F.col("exact_p50")) <= binw)
                    .alias("within_one_bin"))
            .transform(_sorted1, "o_orderstatus"))


register(
    "histogram_quantile_sketch",
    _hist_quantile,
    f"""
WITH c AS (SELECT o_orderstatus,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents
           FROM orders),
rng AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM c),
b AS (SELECT o_orderstatus,
             ((cents - lo) * {_HQ_BINS}) // (hi - lo + 1) AS bin
      FROM c, rng),
hist AS (SELECT o_orderstatus, bin, COUNT(*) AS cnt
         FROM b GROUP BY o_orderstatus, bin),
tot AS (SELECT o_orderstatus, CAST(SUM(cnt) AS BIGINT) AS n_orders
        FROM hist GROUP BY o_orderstatus),
cum AS (SELECT o_orderstatus, bin, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY o_orderstatus ORDER BY bin
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM hist),
med AS (SELECT c.o_orderstatus, MIN(c.bin) AS median_bin,
               MAX(t.n_orders) AS n_orders
        FROM cum c JOIN tot t USING (o_orderstatus)
        WHERE c.cum * 2 >= t.n_orders
        GROUP BY c.o_orderstatus),
ex AS (SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS exact_p50
       FROM orders GROUP BY o_orderstatus)
SELECT m.o_orderstatus, m.n_orders, m.median_bin,
       (CAST(lo AS DOUBLE)
        + (CAST(m.median_bin AS DOUBLE) + 0.5)
          * (CAST(hi - lo + 1 AS DOUBLE) / {_HQ_BINS})) / 100.0
         AS approx_p50,
       ex.exact_p50,
       CAST(hi - lo + 1 AS DOUBLE) / {_HQ_BINS} / 100.0 AS bin_width,
       abs((CAST(lo AS DOUBLE)
            + (CAST(m.median_bin AS DOUBLE) + 0.5)
              * (CAST(hi - lo + 1 AS DOUBLE) / {_HQ_BINS})) / 100.0
           - ex.exact_p50)
         <= CAST(hi - lo + 1 AS DOUBLE) / {_HQ_BINS} / 100.0
         AS within_one_bin
FROM med m JOIN ex USING (o_orderstatus), rng
ORDER BY o_orderstatus
""",
    doc="Mergeable 64-bin histogram quantile sketch over order totals: "
        "integer bin assignment, per-group median bin via tiny cumsum, "
        "midpoint estimate gated against the exact median (≤1 bin "
        "error).",
)


# ---------------------------------------------------------------------------
# kmv_distinct_terms: the fourth distinct-count sketch family — KMV
# (k-minimum-values) per-source distinct-term estimates next to the
# exact counts. k=64 over the same 48-bit hash space as HLL, so the two
# sketches are directly comparable on the same corpus; unlike HLL the
# KMV state is a SAMPLE of real hashes (the seed of distinct-sum /
# Jaccard estimators). The whole sketch (k_used, h_k) is pinned by the
# oracle hash, not only the estimate.
# ---------------------------------------------------------------------------

_KMV_K = 64


def _kmv_distinct_terms(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    items = (d.select("source", F.explode(tokens(F.col("text"))).alias("term"))
              .where(F.col("term") != ""))
    sk = kmv_sketch(items, "term", ["source"], k=_KMV_K)
    exact = (items.groupBy("source")
                  .agg(F.countDistinct("term").alias("exact_distinct")))
    return (sk.join(exact, "source")
              .select("source", "k_used", "h_k", "kmv_est", "exact_distinct",
                      ((F.col("kmv_est") - F.col("exact_distinct"))
                       .cast("double") / F.col("exact_distinct"))
                      .alias("err_frac"))
              .transform(_sorted1, "source"))


register(
    "kmv_distinct_terms",
    _kmv_distinct_terms,
    f"""
WITH it AS (
  SELECT source, term
  FROM (SELECT source, unnest({_DUCK_TOKENS}) AS term FROM documents)
  WHERE term <> ''),
h AS (SELECT DISTINCT source, {_DUCK_H.format(s='term')} AS h FROM it),
r AS (SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM h),
km AS (SELECT source, CAST(COUNT(*) AS INT) AS k_used, MAX(h) AS h_k
       FROM r WHERE rn <= {_KMV_K} GROUP BY source),
ex AS (SELECT source, CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_distinct
       FROM it GROUP BY source),
est AS (
  SELECT km.source, km.k_used, km.h_k,
         CASE WHEN km.k_used < {_KMV_K} THEN CAST(km.k_used AS BIGINT)
              ELSE ({_KMV_K} - 1) * {KMV_SPACE} // km.h_k END AS kmv_est,
         ex.exact_distinct
  FROM km JOIN ex USING (source))
SELECT source, k_used, h_k, kmv_est, exact_distinct,
       CAST(kmv_est - exact_distinct AS DOUBLE) / exact_distinct AS err_frac
FROM est ORDER BY source
""",
    doc="KMV (k=64) per-source distinct-term sketch vs exact counts: "
        "two-level k-min selection (64 shard windows per group, then the "
        "survivor window), integer-division estimate, whole sketch "
        "state hash-pinned.",
)
