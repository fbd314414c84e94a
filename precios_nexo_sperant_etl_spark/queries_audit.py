"""Corpus-governance and serving-index queries: the datasheet /
release-audit surfaces a training-data pipeline publishes alongside the
data itself (diversity indices, re-identification screens, the search
index over the released corpus).

Beyond-reference operators (the reference has no governance surface);
every query is oracle-paired and exact — integer/decimal accumulation
with at most a final, single IEEE division, so hashes are identical
under any partitioning and across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.text import tokens
from .registry import register
from .sources.tables import table as _t

_DUCK_TOKENS = "string_split_regex(trim(text), '\\s+')"


# ---------------------------------------------------------------------------
# Gini–Simpson diversity of the corpus mix: 1 − Σ nᵢ(nᵢ−1) / (N(N−1)),
# the probability two random docs come from DIFFERENT categories. The
# log-free diversity index (Shannon entropy needs a cross-engine log, a
# hash-match hazard); both Σ-terms accumulate in DECIMAL(38,0) — BIGINT
# would overflow n·(n−1) at ~3e9 docs per category, decimal carries the
# full 100 TB regime — and only the final ratio is one double division.
# ---------------------------------------------------------------------------

def _diversity_dim(d: DataFrame, col: str) -> DataFrame:
    counts = d.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    big = F.col("n").cast("decimal(38,0)")
    return (counts.agg(
                F.count(F.lit(1)).alias("n_categories"),
                F.sum("n").alias("n_docs"),
                F.sum(big * (big - 1)).alias("same_pairs"))
            .select(F.lit(col).alias("dimension"), "n_categories",
                    "n_docs",
                    (F.lit(1.0) - F.col("same_pairs").cast("double")
                     / (F.col("n_docs").cast("decimal(38,0)")
                        * (F.col("n_docs").cast("decimal(38,0)") - 1))
                       .cast("double")).alias("gini_simpson")))


def _corpus_diversity(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return (_diversity_dim(d, "source")
            .unionAll(_diversity_dim(d, "lang"))
            .orderBy("dimension"))


register(
    "corpus_diversity_index",
    _corpus_diversity,
    """
WITH d AS (SELECT lang, source FROM documents),
cs AS (SELECT source AS cat, COUNT(*) AS n FROM d GROUP BY 1),
cl AS (SELECT lang AS cat, COUNT(*) AS n FROM d GROUP BY 1),
f AS (
  SELECT 'source' AS dimension, CAST(COUNT(*) AS BIGINT) AS n_categories,
         CAST(SUM(n) AS BIGINT) AS n_docs,
         SUM(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) - 1))
           AS same_pairs
  FROM cs
  UNION ALL
  SELECT 'lang', CAST(COUNT(*) AS BIGINT), CAST(SUM(n) AS BIGINT),
         SUM(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) - 1))
  FROM cl)
SELECT dimension, n_categories, n_docs,
       1.0 - CAST(same_pairs AS DOUBLE)
             / CAST(CAST(n_docs AS DECIMAL(38,0))
                    * (CAST(n_docs AS DECIMAL(38,0)) - 1) AS DOUBLE)
         AS gini_simpson
FROM f ORDER BY dimension
""",
    doc="Gini–Simpson diversity of the corpus mix per dimension "
        "(source, lang) — log-free diversity index, exact decimal "
        "pair counts, one final double division.",
)


# ---------------------------------------------------------------------------
# k-anonymity screen over the quasi-identifier (lang, source): combos
# rarer than k are re-identification / memorization hot spots a release
# audit flags before shipping. One combinable groupBy; the flag is
# derived, never filtered away, so the datasheet shows the full grid.
# ---------------------------------------------------------------------------

def _k_anonymity(spark: SparkSession, sf: str, k: int = 5) -> DataFrame:
    d = _t(spark, sf, "documents")
    return (d.groupBy("lang", "source")
             .agg(F.count(F.lit(1)).alias("group_size"),
                  F.min("doc_id").alias("example_doc"))
             .select("lang", "source", "group_size", "example_doc",
                     (F.col("group_size") < k).alias("at_risk"))
             .orderBy("lang", "source"))


register(
    "k_anonymity_screen",
    _k_anonymity,
    """
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS group_size,
       MIN(doc_id) AS example_doc,
       COUNT(*) < 5 AS at_risk
FROM documents GROUP BY lang, source ORDER BY lang, source
""",
    doc="k-anonymity screen (k=5) over the (lang, source) quasi-"
        "identifier — groups below k are re-identification hot spots.",
)


# ---------------------------------------------------------------------------
# Inverted-index statistics: the term → postings artifact of the
# serving/search side. Per term with df ≥ 2: document frequency, total
# term frequency, and the top posting (argmax tf, ties to the SMALLEST
# doc_id — Spark realizes the tie via max(struct(tf, −doc_id)), the
# oracle via ROW_NUMBER tf DESC, doc_id ASC). Two combinable
# aggregations, shuffles on (term, doc) then term; postings never
# materialize as driver-side lists.
# ---------------------------------------------------------------------------

def _inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    tf = (d.select("doc_id",
                   F.explode(F.array_remove(tokens(F.col("text")), ""))
                    .alias("term"))
           .groupBy("term", "doc_id")
           .agg(F.count(F.lit(1)).alias("tf")))
    top = F.max(F.struct(F.col("tf"), (-F.col("doc_id")).alias("nid")))
    return (tf.groupBy("term")
              .agg(F.count(F.lit(1)).alias("df"),
                   F.sum("tf").alias("total_tf"),
                   top.alias("m"))
              .filter(F.col("df") >= 2)
              .select("term", "df", "total_tf",
                      (-F.col("m.nid")).alias("top_doc_id"),
                      F.col("m.tf").alias("top_tf"))
              .orderBy("term"))


register(
    "inverted_index_stats",
    _inverted_index,
    f"""
WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term
              FROM documents),
tf AS (SELECT term, doc_id, COUNT(*) AS tf
       FROM toks WHERE term <> '' GROUP BY 1, 2),
agg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS total_tf
        FROM tf GROUP BY term),
ranked AS (SELECT term, doc_id, tf,
                  ROW_NUMBER() OVER (PARTITION BY term
                                     ORDER BY tf DESC, doc_id ASC) AS rn
           FROM tf)
SELECT a.term, a.df, a.total_tf,
       r.doc_id AS top_doc_id, CAST(r.tf AS BIGINT) AS top_tf
FROM agg a JOIN ranked r ON r.term = a.term AND r.rn = 1
WHERE a.df >= 2 ORDER BY a.term
""",
    doc="Inverted-index datasheet: per term (df ≥ 2) the document "
        "frequency, total tf, and top posting (argmax tf, tie to min "
        "doc_id) — the search-serving artifact as two combinable aggs.",
)


# ---------------------------------------------------------------------------
# Data-quality expectations suite (Deequ-style): one row per declared
# constraint — completeness, uniqueness, accepted values, range, format,
# referential integrity — each with its violation count and pass flag.
# ONE wide pass over orders (left join to the customer dim carries the
# FK check into the same scan: conditional-sum aggregates all combine
# map-side), then the fixed 6-row constraint table is unpivoted with
# stack(). At 100 TB this is a single fact scan + one broadcast-dim
# probe; the result is constraint-count-sized.
# ---------------------------------------------------------------------------

_EXPECT_STATUSES = ("F", "O", "P")


def _expectations(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("_ck"), F.lit(1).alias("_fk"))
    j = o.join(F.broadcast(c), o.o_custkey == F.col("_ck"), "left")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    wide = j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol(F.col("o_custkey").isNull()).alias("v_complete"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
            .cast("long").alias("v_unique"),
        viol(~F.col("o_orderstatus").isin(*_EXPECT_STATUSES))
            .alias("v_accepted"),
        viol(~(F.col("o_totalprice") > 0)).alias("v_range"),
        viol(~F.col("o_orderpriority").rlike("^[1-5]-"))
            .alias("v_format"),
        viol(F.col("_fk").isNull()).alias("v_fk"))
    stacked = wide.select(
        "n_rows",
        F.expr(
            "stack(6, "
            "'completeness: o_custkey NOT NULL', v_complete, "
            "'uniqueness: o_orderkey', v_unique, "
            "'accepted_values: o_orderstatus in (F,O,P)', v_accepted, "
            "'range: o_totalprice > 0', v_range, "
            "'format: o_orderpriority ~ ^[1-5]-', v_format, "
            "'referential: o_custkey in customer', v_fk"
            ") AS (check_name, n_violations)"))
    return (stacked.select("check_name", "n_rows", "n_violations",
                           (F.col("n_violations") == 0).alias("passed"))
                   .orderBy("check_name"))


register(
    "expectations_report",
    _expectations,
    """
WITH wide AS (
  SELECT COUNT(*) AS n_rows,
    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS v_complete,
    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_unique,
    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
             THEN 1 ELSE 0 END) AS BIGINT) AS v_accepted,
    CAST(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END)
      AS BIGINT) AS v_range,
    CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
             THEN 1 ELSE 0 END) AS BIGINT) AS v_format,
    CAST(SUM(CASE WHEN c._ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_fk
  FROM orders o
  LEFT JOIN (SELECT c_custkey AS _ck FROM customer) c
    ON o.o_custkey = c._ck),
rows AS (
  SELECT 'completeness: o_custkey NOT NULL' AS check_name,
         n_rows, v_complete AS n_violations FROM wide
  UNION ALL SELECT 'uniqueness: o_orderkey', n_rows, v_unique FROM wide
  UNION ALL SELECT 'accepted_values: o_orderstatus in (F,O,P)',
         n_rows, v_accepted FROM wide
  UNION ALL SELECT 'range: o_totalprice > 0', n_rows, v_range FROM wide
  UNION ALL SELECT 'format: o_orderpriority ~ ^[1-5]-',
         n_rows, v_format FROM wide
  UNION ALL SELECT 'referential: o_custkey in customer',
         n_rows, v_fk FROM wide)
SELECT check_name, n_rows, n_violations, n_violations = 0 AS passed
FROM rows ORDER BY check_name
""",
    doc="Deequ-style expectations suite over orders: six declared "
        "constraints (completeness, uniqueness, accepted values, range, "
        "format, FK) checked in one fact scan + broadcast dim probe.",
)
