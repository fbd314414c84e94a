"""Model-based quality filtering: a linear probe TRAINED inside the
engine, plus model-based scoring — the fastText-classifier slot of an
LLM curation pipeline (reference parity: the reference has no trained
models; this extends the beyond-reference scale surface like the rest
of the LLM-pipeline operators).

Why normal equations and not gradient descent: a least-squares probe
over k features needs exactly ONE distributed pass — the Gram matrix
``XᵀX`` and moment vector ``Xᵀy`` are sums of per-row integer products,
map-side combinable, shuffling k(k+1)/2 + k numbers total regardless of
corpus size. That is the 100 TB shape (GD would scan the corpus once
per step and still land on the same unique minimizer). The features are
engineered as INTEGERS (capped token count, capped English-stopword
hits) so every accumulated moment is exact — no float summation-order
nondeterminism anywhere in training. The tiny k×k solve happens once on
exact integers via Cramer's rule in arbitrary-precision Python ints
(driver-side, k=3: nine numbers — the same aggregates-only collect
posture as the KPI document assembly), and the ONLY floating-point
operations in the whole pipeline are the final numerator/determinant
divisions — one correctly-rounded IEEE op per weight, which DuckDB
reproduces bit-exactly from the same exact integers (both engines
round the integer→double casts to nearest and divide once).

Scoring is then a narrow map: ``w0 + w1·x1 + w2·x2`` with a fixed
association order, bit-identical in both engines because the weights
are bit-identical doubles and the features are integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from .operators.text import LANG_PROFILES, tokens, word_set_hits
from .registry import register
from .queries_scale_common import _sorted1
from .sources.tables import table as _t


#: Feature cap keeps every Gram entry inside BIGINT headroom at any
#: corpus size the bench touches: x ≤ 1000, so Σx² ≤ n·10⁶.
_TOK_CAP = 1000

# label: is the document English (lang tag) — a stand-in target with a
# genuinely learnable surface signal (stopword-bearing token shapes).


def _features():
    """(x1, x2, y) integer feature columns shared by train and score.

    x1 = whitespace token count, capped; x2 = count of tokens from the
    English stopword profile, capped (the surface signal a fastText
    lang/quality classifier actually keys on); y = 1 if lang='en'.
    """
    toks = F.size(tokens(F.col("text")))
    x1 = F.least(toks, F.lit(_TOK_CAP)).cast("long")
    x2 = F.least(word_set_hits(F.col("text"), LANG_PROFILES["en"]),
                 F.lit(_TOK_CAP)).cast("long")
    y = (F.col("lang") == "en").cast("long")
    return x1.alias("x1"), x2.alias("x2"), y.alias("y")


_EN_SQL = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])

_FEATURES_SQL = f"""
  SELECT doc_id,
         LEAST(len(string_split_regex(trim(text), '\\s+')), 1000) AS x1,
         LEAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                               tk -> tk IN ({_EN_SQL}))), 1000) AS x2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
"""


def _moments(spark: SparkSession, sf: str):
    """One distributed pass: the six unique Gram entries and three
    moment-vector entries, all exact BIGINT sums."""
    d = _t(spark, sf, "documents").select(*_features())
    agg = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("b0"),
        F.sum(F.col("x1") * F.col("y")).alias("b1"),
        F.sum(F.col("x2") * F.col("y")).alias("b2"))
    return agg.collect()[0].asDict()


def _solve(m: dict) -> tuple[float | None, ...]:
    """Exact 3×3 Cramer solve in Python bigints; floats appear only in
    the final one-division-per-weight step."""
    n, s1, s2 = int(m["n_docs"]), int(m["s1"]), int(m["s2"])
    s11, s12, s22 = int(m["s11"]), int(m["s12"]), int(m["s22"])
    b0, b1, b2 = int(m["b0"]), int(m["b1"]), int(m["b2"])

    def det3(a, b, c, d, e, f, g, h, i):
        return a * (e * i - f * h) - b * (d * i - f * g) \
            + c * (d * h - e * g)

    det = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    if det == 0:
        return None, None, None, 0.0
    n0 = det3(b0, s1, s2, b1, s11, s12, b2, s12, s22)
    n1 = det3(n, b0, s2, s1, b1, s12, s2, b2, s22)
    n2 = det3(n, s1, b0, s1, s11, b1, s2, s12, b2)
    return (float(n0) / float(det), float(n1) / float(det),
            float(n2) / float(det), float(det))


_TRAIN_SCHEMA = StructType([
    StructField("n_docs", LongType()), StructField("s1", LongType()),
    StructField("s2", LongType()), StructField("s11", LongType()),
    StructField("s12", LongType()), StructField("s22", LongType()),
    StructField("b0", LongType()), StructField("b1", LongType()),
    StructField("b2", LongType()), StructField("det", DoubleType()),
    StructField("w0", DoubleType()), StructField("w1", DoubleType()),
    StructField("w2", DoubleType()),
])


def _quality_linear_probe(spark: SparkSession, sf: str) -> DataFrame:
    m = _moments(spark, sf)
    w0, w1, w2, det = _solve(m)
    row = {**{k: int(m[k]) for k in ("n_docs", "s1", "s2", "s11", "s12",
                                     "s22", "b0", "b1", "b2")},
           "det": det, "w0": w0, "w1": w1, "w2": w2}
    return spark.createDataFrame([row], schema=_TRAIN_SCHEMA)


# The oracle replays the identical algebra: exact HUGEINT moments, the
# same Sarrus expansions, and one double division per weight. hg() casts
# keep every intermediate product exact (3×3 dets of ≤n·10⁶ entries
# stay far below the 128-bit ceiling).
_TRAIN_ORACLE = """
WITH f AS (%s),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(y) AS BIGINT) AS b0,
         CAST(SUM(x1 * y) AS BIGINT) AS b1,
         CAST(SUM(x2 * y) AS BIGINT) AS b2
  FROM f),
h AS (
  SELECT *,
         CAST(n_docs AS HUGEINT) AS hn,
         CAST(s1 AS HUGEINT) AS h1, CAST(s2 AS HUGEINT) AS h2,
         CAST(s11 AS HUGEINT) AS h11, CAST(s12 AS HUGEINT) AS h12,
         CAST(s22 AS HUGEINT) AS h22,
         CAST(b0 AS HUGEINT) AS hb0, CAST(b1 AS HUGEINT) AS hb1,
         CAST(b2 AS HUGEINT) AS hb2
  FROM m),
d AS (
  SELECT *,
         hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS dt,
         hb0 * (h11 * h22 - h12 * h12)
           - h1 * (hb1 * h22 - h12 * hb2)
           + h2 * (hb1 * h12 - h11 * hb2) AS d0,
         hn * (hb1 * h22 - h12 * hb2)
           - hb0 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * hb2 - hb1 * h2) AS d1,
         hn * (h11 * hb2 - hb1 * h12)
           - h1 * (h1 * hb2 - hb1 * h2)
           + hb0 * (h1 * h12 - h11 * h2) AS d2
  FROM h)
SELECT n_docs, s1, s2, s11, s12, s22, b0, b1, b2,
       CAST(dt AS DOUBLE) AS det,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d0 AS DOUBLE) / CAST(dt AS DOUBLE) END AS w0,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d1 AS DOUBLE) / CAST(dt AS DOUBLE) END AS w1,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d2 AS DOUBLE) / CAST(dt AS DOUBLE) END AS w2
FROM d
""" % _FEATURES_SQL

register(
    "quality_linear_probe",
    _quality_linear_probe,
    _TRAIN_ORACLE,
    doc="TRAIN a model in the engine: least-squares linear probe "
        "(is-English target) fit by exact-integer normal equations — "
        "one map-side-combinable pass builds XᵀX / Xᵀy, Cramer solves "
        "3x3 on arbitrary-precision ints, floats only in the final "
        "one-division-per-weight step, bit-exact vs DuckDB HUGEINT.",
)


def _quality_linear_scores(spark: SparkSession, sf: str) -> DataFrame:
    m = _moments(spark, sf)
    w0, w1, w2, _det = _solve(m)
    d = _t(spark, sf, "documents")
    x1c, x2c, yc = _features()
    feats = d.select("doc_id", x1c, x2c, yc)
    score = (F.lit(w0) + F.lit(w1) * F.col("x1").cast("double")
             + F.lit(w2) * F.col("x2").cast("double"))
    return (feats.select("doc_id", "x1", "x2", "y",
                         score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(20))


_SCORE_ORACLE = """
WITH f AS (%s),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS hn,
         CAST(SUM(x1) AS HUGEINT) AS h1, CAST(SUM(x2) AS HUGEINT) AS h2,
         CAST(SUM(x1 * x1) AS HUGEINT) AS h11,
         CAST(SUM(x1 * x2) AS HUGEINT) AS h12,
         CAST(SUM(x2 * x2) AS HUGEINT) AS h22,
         CAST(SUM(y) AS HUGEINT) AS hb0,
         CAST(SUM(x1 * y) AS HUGEINT) AS hb1,
         CAST(SUM(x2 * y) AS HUGEINT) AS hb2
  FROM f),
w AS (
  SELECT
    CAST(hb0 * (h11 * h22 - h12 * h12)
       - h1 * (hb1 * h22 - h12 * hb2)
       + h2 * (hb1 * h12 - h11 * hb2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w0,
    CAST(hn * (hb1 * h22 - h12 * hb2)
       - hb0 * (h1 * h22 - h12 * h2)
       + h2 * (h1 * hb2 - hb1 * h2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w1,
    CAST(hn * (h11 * hb2 - hb1 * h12)
       - h1 * (h1 * hb2 - hb1 * h2)
       + hb0 * (h1 * h12 - h11 * h2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w2
  FROM m)
SELECT doc_id, CAST(x1 AS BIGINT) AS x1, CAST(x2 AS BIGINT) AS x2,
       CAST(y AS BIGINT) AS y,
       w0 + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE) AS score
FROM f, w
ORDER BY score DESC, doc_id ASC
LIMIT 20
""" % _FEATURES_SQL

register(
    "quality_linear_scores",
    _quality_linear_scores,
    _SCORE_ORACLE,
    doc="Model-based quality SCORING: apply the trained linear probe "
        "to every document (narrow map, fixed association order so "
        "the doubles are bit-identical to the oracle's) and keep the "
        "top-20 by score with doc_id tiebreak.",
)


def _quality_probe_eval(spark: SparkSession, sf: str) -> DataFrame:
    m = _moments(spark, sf)
    w0, w1, w2, _det = _solve(m)
    d = _t(spark, sf, "documents")
    x1c, x2c, yc = _features()
    feats = d.select(x1c, x2c, yc)
    score = (F.lit(w0) + F.lit(w1) * F.col("x1").cast("double")
             + F.lit(w2) * F.col("x2").cast("double"))
    pred = (score >= 0.5).cast("long")
    y = F.col("y")
    return feats.select(pred.alias("p"), y.alias("y")).agg(
        F.sum((F.col("p") * F.col("y"))).alias("tp"),
        F.sum((F.col("p") * (1 - F.col("y")))).alias("fp"),
        F.sum(((1 - F.col("p")) * (1 - F.col("y")))).alias("tn"),
        F.sum(((1 - F.col("p")) * F.col("y"))).alias("fn"),
        F.expr("CAST(sum(p * y + (1 - p) * (1 - y)) * 1000"
               " DIV count(*) AS BIGINT)").alias("accuracy_milli"))


_EVAL_ORACLE = """
WITH f AS (%s),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS hn,
         CAST(SUM(x1) AS HUGEINT) AS h1, CAST(SUM(x2) AS HUGEINT) AS h2,
         CAST(SUM(x1 * x1) AS HUGEINT) AS h11,
         CAST(SUM(x1 * x2) AS HUGEINT) AS h12,
         CAST(SUM(x2 * x2) AS HUGEINT) AS h22,
         CAST(SUM(y) AS HUGEINT) AS hb0,
         CAST(SUM(x1 * y) AS HUGEINT) AS hb1,
         CAST(SUM(x2 * y) AS HUGEINT) AS hb2
  FROM f),
w AS (
  SELECT
    CAST(hb0 * (h11 * h22 - h12 * h12)
       - h1 * (hb1 * h22 - h12 * hb2)
       + h2 * (hb1 * h12 - h11 * hb2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w0,
    CAST(hn * (hb1 * h22 - h12 * hb2)
       - hb0 * (h1 * h22 - h12 * h2)
       + h2 * (h1 * hb2 - hb1 * h2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w1,
    CAST(hn * (h11 * hb2 - hb1 * h12)
       - h1 * (h1 * hb2 - hb1 * h2)
       + hb0 * (h1 * h12 - h11 * h2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w2
  FROM m),
s AS (
  SELECT y,
         CASE WHEN w0 + w1 * CAST(x1 AS DOUBLE)
                   + w2 * CAST(x2 AS DOUBLE) >= 0.5
              THEN 1 ELSE 0 END AS p
  FROM f, w)
SELECT CAST(SUM(p * y) AS BIGINT) AS tp,
       CAST(SUM(p * (1 - y)) AS BIGINT) AS fp,
       CAST(SUM((1 - p) * (1 - y)) AS BIGINT) AS tn,
       CAST(SUM((1 - p) * y) AS BIGINT) AS fn,
       CAST(SUM(p * y + (1 - p) * (1 - y)) * 1000 // COUNT(*) AS BIGINT)
         AS accuracy_milli
FROM s
""" % _FEATURES_SQL

register(
    "quality_probe_eval",
    _quality_probe_eval,
    _EVAL_ORACLE,
    doc="EVALUATE the trained probe: threshold the bit-exact scores at "
        "0.5 and fold the confusion matrix (tp/fp/tn/fn + milli "
        "accuracy) in one integer aggregation — the train/score/eval "
        "triple of model-based quality filtering, all value-hashed.",
)


# ---------------------------------------------------------------------------
# Model-driven curriculum order: the trained probe's score decides the
# COARSE order (quality buckets, best first — curriculum learning's
# easy-to-hard schedule) and a seeded hash shuffles WITHIN each bucket
# (the anti-correlation guarantee of training_order_manifest). Dense
# global positions come from the two-pass range-partitioned row id —
# never a single-task window — so the manifest is reproducible under
# any cluster layout and still O(n/p) per task at 100 TB. Bucket edges
# use the bit-exact scores, so the whole ordering sits behind a value
# oracle.
# ---------------------------------------------------------------------------

_CURR_SEED = "curriculum0"
_CURR_BUCKETS = 4


def _curriculum_order_manifest(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import add_row_id
    from .operators.text import md5_hash

    m = _moments(spark, sf)
    w0, w1, w2, _det = _solve(m)
    d = _t(spark, sf, "documents")
    x1c, x2c, yc = _features()
    feats = d.select("doc_id", x1c, x2c, yc)
    score = (F.lit(w0) + F.lit(w1) * F.col("x1").cast("double")
             + F.lit(w2) * F.col("x2").cast("double"))
    bucket = F.least(F.greatest(F.floor(score * _CURR_BUCKETS), F.lit(0)),
                     F.lit(_CURR_BUCKETS - 1)).cast("long")
    keyed = feats.select(
        "doc_id", score.alias("score"), bucket.alias("bucket"),
        md5_hash(F.concat(F.lit(_CURR_SEED + ":"),
                          F.col("doc_id").cast("string"))).alias("_ok"))
    ordered = add_row_id(
        keyed, [F.desc("bucket"), F.asc("_ok"), F.asc("doc_id")],
        name="position")
    return (ordered.select("doc_id", "bucket", "score", "position")
            .transform(_sorted1, "position"))


_CURRICULUM_ORACLE = """
WITH f AS (%s),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS hn,
         CAST(SUM(x1) AS HUGEINT) AS h1, CAST(SUM(x2) AS HUGEINT) AS h2,
         CAST(SUM(x1 * x1) AS HUGEINT) AS h11,
         CAST(SUM(x1 * x2) AS HUGEINT) AS h12,
         CAST(SUM(x2 * x2) AS HUGEINT) AS h22,
         CAST(SUM(y) AS HUGEINT) AS hb0,
         CAST(SUM(x1 * y) AS HUGEINT) AS hb1,
         CAST(SUM(x2 * y) AS HUGEINT) AS hb2
  FROM f),
w AS (
  SELECT
    CAST(hb0 * (h11 * h22 - h12 * h12)
       - h1 * (hb1 * h22 - h12 * hb2)
       + h2 * (hb1 * h12 - h11 * hb2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w0,
    CAST(hn * (hb1 * h22 - h12 * hb2)
       - hb0 * (h1 * h22 - h12 * h2)
       + h2 * (h1 * hb2 - hb1 * h2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w1,
    CAST(hn * (h11 * hb2 - hb1 * h12)
       - h1 * (h1 * hb2 - hb1 * h2)
       + hb0 * (h1 * h12 - h11 * h2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w2
  FROM m),
s AS (
  SELECT doc_id,
         w0 + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE) AS score
  FROM f, w),
k AS (
  SELECT doc_id, score,
         LEAST(GREATEST(CAST(floor(score * %d) AS BIGINT), 0), %d)
           AS bucket,
         md5('%s:' || CAST(doc_id AS VARCHAR)) AS ok
  FROM s)
SELECT doc_id, bucket, score,
       CAST(ROW_NUMBER() OVER (ORDER BY bucket DESC, ok, doc_id) - 1
            AS BIGINT) AS position
FROM k ORDER BY position
""" % (_FEATURES_SQL, _CURR_BUCKETS, _CURR_BUCKETS - 1, _CURR_SEED)

register(
    "curriculum_order_manifest",
    _curriculum_order_manifest,
    _CURRICULUM_ORACLE,
    doc="Model-driven curriculum order: bit-exact probe scores bucket "
        "the corpus (best first), a seeded hash shuffles within "
        "buckets, and two-pass range-partitioned row ids assign dense "
        "reproducible positions — no single-task window anywhere.",
)


# ---------------------------------------------------------------------------
# Ridge regularization — same exact algebra, shifted diagonal. The
# L2-regularized normal equations (XᵀX + λI)w = Xᵀy keep every property
# of the plain probe (one distributed pass, integer moments, exact
# Cramer solve, floats only at the final divisions) because λ is an
# integer added to the diagonal BEFORE any float appears. With the
# intercept conventionally left unpenalized, the shifted system is
# still a 3×3 integer Cramer solve.
# ---------------------------------------------------------------------------

_RIDGE_LAMBDA = 10_000


def _solve_ridge(m: dict, lam: int) -> tuple[float | None, ...]:
    shifted = dict(m)
    shifted["s11"] = int(m["s11"]) + lam
    shifted["s22"] = int(m["s22"]) + lam
    return _solve(shifted)


def _quality_ridge_probe(spark: SparkSession, sf: str) -> DataFrame:
    m = _moments(spark, sf)
    w0, w1, w2, det = _solve_ridge(m, _RIDGE_LAMBDA)
    row = {**{k: int(m[k]) for k in ("n_docs", "s1", "s2", "s11", "s12",
                                     "s22", "b0", "b1", "b2")},
           "det": det, "w0": w0, "w1": w1, "w2": w2}
    return spark.createDataFrame([row], schema=_TRAIN_SCHEMA)


_RIDGE_ORACLE = """
WITH f AS (%s),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(y) AS BIGINT) AS b0,
         CAST(SUM(x1 * y) AS BIGINT) AS b1,
         CAST(SUM(x2 * y) AS BIGINT) AS b2
  FROM f),
h AS (
  SELECT *,
         CAST(n_docs AS HUGEINT) AS hn,
         CAST(s1 AS HUGEINT) AS h1, CAST(s2 AS HUGEINT) AS h2,
         CAST(s11 AS HUGEINT) + %d AS h11,
         CAST(s12 AS HUGEINT) AS h12,
         CAST(s22 AS HUGEINT) + %d AS h22,
         CAST(b0 AS HUGEINT) AS hb0, CAST(b1 AS HUGEINT) AS hb1,
         CAST(b2 AS HUGEINT) AS hb2
  FROM m),
d AS (
  SELECT *,
         hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS dt,
         hb0 * (h11 * h22 - h12 * h12)
           - h1 * (hb1 * h22 - h12 * hb2)
           + h2 * (hb1 * h12 - h11 * hb2) AS d0,
         hn * (hb1 * h22 - h12 * hb2)
           - hb0 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * hb2 - hb1 * h2) AS d1,
         hn * (h11 * hb2 - hb1 * h12)
           - h1 * (h1 * hb2 - hb1 * h2)
           + hb0 * (h1 * h12 - h11 * h2) AS d2
  FROM h)
SELECT n_docs, s1, s2, s11, s12, s22, b0, b1, b2,
       CAST(dt AS DOUBLE) AS det,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d0 AS DOUBLE) / CAST(dt AS DOUBLE) END AS w0,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d1 AS DOUBLE) / CAST(dt AS DOUBLE) END AS w1,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d2 AS DOUBLE) / CAST(dt AS DOUBLE) END AS w2
FROM d
""" % (_FEATURES_SQL, _RIDGE_LAMBDA, _RIDGE_LAMBDA)

register(
    "quality_ridge_probe",
    _quality_ridge_probe,
    _RIDGE_ORACLE,
    doc="L2-regularized probe: integer lambda shifts the Gram diagonal "
        "(intercept unpenalized) before any float appears, so the "
        "ridge weights stay bit-exact vs the HUGEINT oracle — "
        "regularization without giving up exactness.",
)


# ---------------------------------------------------------------------------
# Leave-one-source-out influence — closed-form data attribution. "How
# much does each SOURCE move the trained model?" is normally answered
# by retraining once per source; with exact-integer normal equations
# it's free: per-source moment vectors come out of the SAME single
# corpus pass (groupBy source, map-side combinable, |sources| rows of
# 9 BIGINTs), and retraining-without-source-s is Cramer's rule on
# (total − source_s) — pure integer subtraction before any float, so
# every LOO weight and every weight delta is bit-identical to the
# HUGEINT oracle. This is the influence-style datasheet a curation
# team reads before dropping or down-weighting a source, at any corpus
# size: the shuffle carries 9·|sources| integers, nothing else.
# ---------------------------------------------------------------------------

_MKEYS = ("n_docs", "s1", "s2", "s11", "s12", "s22", "b0", "b1", "b2")


def _moments_by_source(spark: SparkSession, sf: str) -> list[dict]:
    d = _t(spark, sf, "documents").select(F.col("source"), *_features())
    rows = (d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("b0"),
        F.sum(F.col("x1") * F.col("y")).alias("b1"),
        F.sum(F.col("x2") * F.col("y")).alias("b2")).collect())
    return [r.asDict() for r in rows]


def _loo_source_influence(spark: SparkSession, sf: str) -> DataFrame:
    per_src = _moments_by_source(spark, sf)
    total = {k: sum(int(s[k]) for s in per_src) for k in _MKEYS}
    w0f, w1f, w2f, _ = _solve(total)
    out = []
    for s in sorted(per_src, key=lambda r: r["source"]):
        loo = {k: int(total[k]) - int(s[k]) for k in _MKEYS}
        w0, w1, w2, _det = _solve(loo)
        out.append({
            "source": s["source"], "n_excl": int(s["n_docs"]),
            "w0_loo": w0, "w1_loo": w1, "w2_loo": w2,
            "dw0": None if w0 is None else w0 - w0f,
            "dw1": None if w1 is None else w1 - w1f,
            "dw2": None if w2 is None else w2 - w2f,
        })
    schema = StructType([
        StructField("source", StringType()),
        StructField("n_excl", LongType()),
        StructField("w0_loo", DoubleType()),
        StructField("w1_loo", DoubleType()),
        StructField("w2_loo", DoubleType()),
        StructField("dw0", DoubleType()),
        StructField("dw1", DoubleType()),
        StructField("dw2", DoubleType()),
    ])
    return spark.createDataFrame(out, schema=schema)


_FEATURES_SRC_SQL = f"""
  SELECT source,
         LEAST(len(string_split_regex(trim(text), '\\s+')), 1000) AS x1,
         LEAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                               tk -> tk IN ({_EN_SQL}))), 1000) AS x2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
"""

# Shared Sarrus fragments over HUGEINT aliases hn/h1/h2/h11/h12/h22/
# hb0/hb1/hb2 — the same expansion the other probe oracles inline.
_DET_SQL = ("hn * (h11 * h22 - h12 * h12)"
            " - h1 * (h1 * h22 - h12 * h2)"
            " + h2 * (h1 * h12 - h11 * h2)")
_D0_SQL = ("hb0 * (h11 * h22 - h12 * h12)"
           " - h1 * (hb1 * h22 - h12 * hb2)"
           " + h2 * (hb1 * h12 - h11 * hb2)")
_D1_SQL = ("hn * (hb1 * h22 - h12 * hb2)"
           " - hb0 * (h1 * h22 - h12 * h2)"
           " + h2 * (h1 * hb2 - hb1 * h2)")
_D2_SQL = ("hn * (h11 * hb2 - hb1 * h12)"
           " - h1 * (h1 * hb2 - hb1 * h2)"
           " + hb0 * (h1 * h12 - h11 * h2)")

_LOO_ORACLE = f"""
WITH f AS ({_FEATURES_SRC_SQL}),
ms AS (
  SELECT source,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x1) AS HUGEINT) AS a1, CAST(SUM(x2) AS HUGEINT) AS a2,
         CAST(SUM(x1 * x1) AS HUGEINT) AS a11,
         CAST(SUM(x1 * x2) AS HUGEINT) AS a12,
         CAST(SUM(x2 * x2) AS HUGEINT) AS a22,
         CAST(SUM(y) AS HUGEINT) AS c0,
         CAST(SUM(x1 * y) AS HUGEINT) AS c1,
         CAST(SUM(x2 * y) AS HUGEINT) AS c2
  FROM f GROUP BY source),
mt AS (
  SELECT SUM(n) AS n, SUM(a1) AS a1, SUM(a2) AS a2, SUM(a11) AS a11,
         SUM(a12) AS a12, SUM(a22) AS a22, SUM(c0) AS c0,
         SUM(c1) AS c1, SUM(c2) AS c2
  FROM ms),
wf AS (
  SELECT CAST({_D0_SQL} AS DOUBLE) / CAST({_DET_SQL} AS DOUBLE) AS w0f,
         CAST({_D1_SQL} AS DOUBLE) / CAST({_DET_SQL} AS DOUBLE) AS w1f,
         CAST({_D2_SQL} AS DOUBLE) / CAST({_DET_SQL} AS DOUBLE) AS w2f
  FROM (SELECT n AS hn, a1 AS h1, a2 AS h2, a11 AS h11, a12 AS h12,
               a22 AS h22, c0 AS hb0, c1 AS hb1, c2 AS hb2 FROM mt)),
l AS (
  SELECT ms.source, ms.n AS n_excl,
         mt.n - ms.n AS hn, mt.a1 - ms.a1 AS h1, mt.a2 - ms.a2 AS h2,
         mt.a11 - ms.a11 AS h11, mt.a12 - ms.a12 AS h12,
         mt.a22 - ms.a22 AS h22, mt.c0 - ms.c0 AS hb0,
         mt.c1 - ms.c1 AS hb1, mt.c2 - ms.c2 AS hb2
  FROM ms, mt),
s AS (
  SELECT source, n_excl, {_DET_SQL} AS dt,
         {_D0_SQL} AS d0, {_D1_SQL} AS d1, {_D2_SQL} AS d2
  FROM l)
SELECT source, CAST(n_excl AS BIGINT) AS n_excl,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d0 AS DOUBLE) / CAST(dt AS DOUBLE) END AS w0_loo,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d1 AS DOUBLE) / CAST(dt AS DOUBLE) END AS w1_loo,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d2 AS DOUBLE) / CAST(dt AS DOUBLE) END AS w2_loo,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d0 AS DOUBLE) / CAST(dt AS DOUBLE) - w0f END AS dw0,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d1 AS DOUBLE) / CAST(dt AS DOUBLE) - w1f END AS dw1,
       CASE WHEN dt = 0 THEN NULL
            ELSE CAST(d2 AS DOUBLE) / CAST(dt AS DOUBLE) - w2f END AS dw2
FROM s, wf ORDER BY source
"""

register(
    "loo_source_influence",
    _loo_source_influence,
    _LOO_ORACLE,
    doc="Leave-one-source-out influence: per-source integer moments "
        "from ONE corpus pass, exact Cramer re-solve on (total - "
        "source) per source, bit-exact LOO weights and weight deltas "
        "vs the HUGEINT oracle — closed-form data attribution with a "
        "9-integers-per-source shuffle.",
)


# ---------------------------------------------------------------------------
# Decision-stump probe — the third in-engine model family (exact
# linear, ridge, now depth-1 tree). Fit: over both integer features,
# choose the (feature, threshold) split of y minimizing SSE — i.e.
# maximizing sL²/nL + sR²/nR (y is 0/1 so Σy² = Σy and the constant
# drops). Exactness posture: per-threshold (n, s) prefix sums are
# exact BIGINTs from ONE grouped pass per feature; the gain is two
# correctly-rounded IEEE divisions of exact <2⁵³ integers summed in a
# fixed order — bit-identical across engines like the probe weights —
# and the argmax tiebreak is (gain DESC, feature, threshold). The only
# windows run over the ≤(cap+1)-row distinct-value aggregates (the
# feature cap is a design constant, corpus-independent).
# ---------------------------------------------------------------------------

def _stump_candidates(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    d = _t(spark, sf, "documents").select(*_features())
    cands = None
    for feat in ("x1", "x2"):
        per_v = d.groupBy(F.col(feat).alias("threshold")).agg(
            F.count(F.lit(1)).alias("_n"), F.sum("y").alias("_s"))
        w = (Window.orderBy("threshold")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        tot = per_v.agg(F.sum("_n").alias("_tn"), F.sum("_s").alias("_ts"))
        pref = (per_v
                .withColumn("n_left", F.sum("_n").over(w))
                .withColumn("s_left", F.sum("_s").over(w))
                .crossJoin(F.broadcast(tot))
                .withColumn("n_right", F.col("_tn") - F.col("n_left"))
                .withColumn("s_right", F.col("_ts") - F.col("s_left"))
                .where(F.col("n_right") > 0)
                .select(F.lit(feat).alias("feature"), "threshold",
                        "n_left", "n_right", "s_left", "s_right"))
        cands = pref if cands is None else cands.unionByName(pref)
    gain = (F.col("s_left").cast("double") * F.col("s_left").cast("double")
            / F.col("n_left").cast("double")
            + F.col("s_right").cast("double")
            * F.col("s_right").cast("double")
            / F.col("n_right").cast("double"))
    return cands.withColumn("gain", gain)


def _quality_stump_probe(spark: SparkSession, sf: str) -> DataFrame:
    c = _stump_candidates(spark, sf)
    best = (c.orderBy(F.desc("gain"), F.asc("feature"),
                      F.asc("threshold")).limit(1))
    return best.select(
        "feature", F.col("threshold").cast("long").alias("threshold"),
        F.col("n_left").cast("long").alias("n_left"),
        F.col("n_right").cast("long").alias("n_right"),
        (F.col("s_left").cast("double")
         / F.col("n_left").cast("double")).alias("mean_left"),
        (F.col("s_right").cast("double")
         / F.col("n_right").cast("double")).alias("mean_right"),
        "gain")


_STUMP_ORACLE = """
WITH f AS (%s),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tn,
               CAST(SUM(y) AS BIGINT) AS ts FROM f),
c AS (
  SELECT 'x1' AS feature, CAST(x1 AS BIGINT) AS threshold,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
  FROM f GROUP BY x1
  UNION ALL
  SELECT 'x2', CAST(x2 AS BIGINT),
         CAST(COUNT(*) AS BIGINT), CAST(SUM(y) AS BIGINT)
  FROM f GROUP BY x2),
p AS (
  SELECT feature, threshold,
         SUM(n) OVER (PARTITION BY feature ORDER BY threshold
                      ROWS UNBOUNDED PRECEDING) AS n_left,
         SUM(s) OVER (PARTITION BY feature ORDER BY threshold
                      ROWS UNBOUNDED PRECEDING) AS s_left
  FROM c),
g AS (
  SELECT feature, threshold,
         CAST(n_left AS BIGINT) AS n_left,
         CAST(tn - n_left AS BIGINT) AS n_right,
         CAST(s_left AS BIGINT) AS s_left,
         CAST(ts - s_left AS BIGINT) AS s_right
  FROM p, tot WHERE tn - n_left > 0)
SELECT feature, threshold,
       n_left, n_right,
       CAST(s_left AS DOUBLE) / CAST(n_left AS DOUBLE) AS mean_left,
       CAST(s_right AS DOUBLE) / CAST(n_right AS DOUBLE) AS mean_right,
       CAST(s_left AS DOUBLE) * CAST(s_left AS DOUBLE)
         / CAST(n_left AS DOUBLE)
       + CAST(s_right AS DOUBLE) * CAST(s_right AS DOUBLE)
         / CAST(n_right AS DOUBLE) AS gain
FROM g
ORDER BY gain DESC, feature, threshold
LIMIT 1
""" % _FEATURES_SQL

register(
    "quality_stump_probe",
    _quality_stump_probe,
    _STUMP_ORACLE,
    doc="Depth-1 decision stump fit in the engine: best (feature, "
        "threshold) split by exact-integer prefix sums over the "
        "capped distinct-value aggregates, gain as two correctly-"
        "rounded divisions of exact integers — the third model "
        "family, bit-exact vs DuckDB.",
)


# ---------------------------------------------------------------------------
# Bradley-Terry preference strengths — the model behind RLHF/DPO reward
# data audits and chatbot-arena leaderboards (Bradley & Terry 1952;
# Zermelo 1929). Pairwise preference outcomes are corpus-sized; the
# sufficient statistics are NOT: per-item win counts and the per-pair
# game-count matrix shuffle at most items² numbers regardless of how
# many comparisons exist — the same aggregates-only posture as the
# linear probe's Gram matrix. The constant-size MM fixed-point
# (Zermelo's update  p_i ← w_i / Σ_j n_ij/(p_i+p_j), 20 iterations)
# runs driver-side in IEEE doubles with a pinned j-ascending fold, and
# the oracle replays the identical iteration as a recursive CTE over
# LIST(DOUBLE) state — bit-identical strengths, an exact value oracle
# for an iterative MLE.
# ---------------------------------------------------------------------------

_BT_ITEMS = 8
_BT_ITERS = 20


def _bt_games(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic preference fixture: every doc stages one game
    between items i = doc_id%8 and j = (doc_id//8)%8 (i≠j); the winner
    is hash-thresholded with a +6(i-j) skill bias, so true strength is
    ordered in item id and both upsets and sweeps occur."""
    from .operators.text import md5_hash
    d = _t(spark, sf, "documents").select("doc_id")
    g = d.select(
        (F.col("doc_id") % 8).alias("i"),
        ((F.col("doc_id") / 8).cast("long") % 8).alias("j"),
        (md5_hash(F.concat(F.lit("bt:"), F.col("doc_id"))) % 100)
        .alias("r"))
    g = g.where(F.col("i") != F.col("j"))
    return g.select(
        "i", "j",
        F.when(F.col("r") < 50 + 6 * (F.col("i") - F.col("j")),
               F.col("i")).otherwise(F.col("j")).alias("winner"))


def _bradley_terry(spark: SparkSession, sf: str) -> DataFrame:
    g = _bt_games(spark, sf)
    wins_rows = (g.groupBy("winner").agg(F.count(F.lit(1)).alias("w"))
                 .collect())
    pair_rows = (g.select(F.least("i", "j").alias("a"),
                          F.greatest("i", "j").alias("b"))
                 .groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
                 .collect())
    k = _BT_ITEMS
    w = [0] * k
    for r in wins_rows:
        w[int(r["winner"])] = int(r["w"])
    n = [[0] * k for _ in range(k)]
    for r in pair_rows:
        a, b, c = int(r["a"]), int(r["b"]), int(r["c"])
        n[a][b] = c
        n[b][a] = c
    p = [1.0] * k
    for _ in range(_BT_ITERS):
        nxt = []
        for i in range(k):
            s = 0.0
            for j in range(k):  # j-ascending fold; n_ii=0 adds exact 0.0
                s = s + n[i][j] / (p[i] + p[j])
            nxt.append(w[i] / s)
        p = nxt
    games = [sum(n[i]) for i in range(k)]
    order = sorted(range(k), key=lambda i: (-p[i], i))
    rank = {i: r + 1 for r, i in enumerate(order)}
    rows = [(i, w[i], games[i], p[i], rank[i]) for i in range(k)]
    schema = StructType([
        StructField("item", LongType()), StructField("wins", LongType()),
        StructField("games", LongType()),
        StructField("strength", DoubleType()),
        StructField("rank", LongType())])
    return spark.createDataFrame(rows, schema).orderBy("item")


_BT_ORACLE = f"""
WITH RECURSIVE
g AS (
  SELECT CAST(doc_id % 8 AS BIGINT) AS i,
         CAST((doc_id // 8) % 8 AS BIGINT) AS j,
         ('0x' || substr(md5('bt:' || CAST(doc_id AS VARCHAR)), 1, 12))
           ::BIGINT % 100 AS r
  FROM documents
  WHERE doc_id % 8 <> (doc_id // 8) % 8),
res AS (SELECT i, j,
               CASE WHEN r < 50 + 6 * (i - j) THEN i ELSE j END AS winner
        FROM g),
items AS (SELECT CAST(x.g AS BIGINT) AS item FROM generate_series(0, 7) x(g)),
w AS (SELECT it.item, CAST(COUNT(r.winner) AS BIGINT) AS wins
      FROM items it LEFT JOIN res r ON r.winner = it.item
      GROUP BY it.item),
np AS (SELECT LEAST(i, j) AS a, GREATEST(i, j) AS b,
              CAST(COUNT(*) AS BIGINT) AS c
       FROM res GROUP BY 1, 2),
cell AS (
  SELECT ia.item AS i, ib.item AS j,
         CASE WHEN ia.item = ib.item THEN 0
              ELSE COALESCE(p.c, 0) END AS c
  FROM items ia CROSS JOIN items ib
  LEFT JOIN np p ON p.a = LEAST(ia.item, ib.item)
                AND p.b = GREATEST(ia.item, ib.item)),
nrow AS (SELECT i, list(c ORDER BY j) AS ns,
                CAST(SUM(c) AS BIGINT) AS games
         FROM cell GROUP BY i),
nmat AS (SELECT list(ns ORDER BY i) AS nm FROM nrow),
wl AS (SELECT list(wins ORDER BY item) AS wv FROM w),
iter(k, ps) AS (
  SELECT 0, list_transform(range(8), x -> CAST(1.0 AS DOUBLE))
  UNION ALL
  SELECT k + 1,
         list_transform(range(1, 9), i ->
             CAST(wv[i] AS DOUBLE)
             / list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(range(1, 9), j ->
                           CAST(nm[i][j] AS DOUBLE)
                           / (ps[i] + ps[j]))),
                   (a, x) -> a + x))
  FROM iter, nmat, wl WHERE k < {_BT_ITERS}),
fin AS (SELECT ps FROM iter WHERE k = {_BT_ITERS})
SELECT w.item, w.wins, nr.games,
       ps[CAST(w.item + 1 AS INT)] AS strength,
       CAST(ROW_NUMBER() OVER (
           ORDER BY ps[CAST(w.item + 1 AS INT)] DESC, w.item)
         AS BIGINT) AS rank
FROM w JOIN nrow nr ON nr.i = w.item CROSS JOIN fin
ORDER BY w.item
"""

register(
    "bradley_terry_strengths",
    _bradley_terry,
    _BT_ORACLE,
    doc="Bradley-Terry MLE via Zermelo's MM updates: corpus-sized "
        "preference outcomes reduce to items²-bounded sufficient "
        "stats (one win-count agg + one pair-count agg), a 20-step "
        "constant-size fixed point with a pinned summation order, and "
        "a recursive-CTE oracle replaying the identical iteration — "
        "bit-exact strengths and ranks.",
)


# ---------------------------------------------------------------------------
# Elo ratings — the ONLINE counterpart of bradley_terry_strengths
# (arena leaderboards update after every comparison; BT refits in
# batch). Entirely in integers: ratings in whole points, a quantized
# 81-bucket expectation table in milli-score (the same shape as FIDE's
# printed conversion table — both engines inline the identical
# literals), zero-sum updates ra += D, rb -= D with D =
# trunc(K*(score-expected)/1000), truncating division matched on both
# engines (Spark `div` / DuckDB `//`; Python mirrors with a sign-aware
# helper because its `//` floors). Sequential by construction, so the
# distributed shape is the crawl_token_bucket one: independent rating
# POOLS (leagues) shuffle once on the pool key and each pool's chain
# folds inside one task with O(items) state; the oracle replays every
# transition as a recursive CTE over LIST(BIGINT) state.
# ---------------------------------------------------------------------------

_ELO_K = 32
_ELO_START = 1000


def _elo_table() -> list[int]:
    """expected-score milli for rating-diff buckets -40..40 (25 pts
    per bucket): E = 1000 / (1 + 10^(-d/400)), truncated to int."""
    return [int(1000.0 / (1.0 + 10.0 ** (-(b * 25) / 400.0)))
            for b in range(-40, 41)]


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — Spark's `div` and
    DuckDB's `//`; Python's `//` floors, hence this helper."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def _elo_games(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import md5_hash
    d = _t(spark, sf, "documents").select("doc_id")
    g = d.select(
        "doc_id",
        ((F.col("doc_id") / 64).cast("long") % 4).alias("pool"),
        (F.col("doc_id") % 8).alias("i"),
        ((F.col("doc_id") / 8).cast("long") % 8).alias("j"),
        (md5_hash(F.concat(F.lit("elo:"), F.col("doc_id"))) % 100)
        .alias("r"))
    g = g.where(F.col("i") != F.col("j"))
    return g.select(
        "doc_id", "pool", "i", "j",
        F.when(F.col("r") < 50 + 6 * (F.col("i") - F.col("j")),
               F.col("i")).otherwise(F.col("j")).alias("w"))


def _elo_ratings(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    table = _elo_table()

    def fold(key, pdf):
        pdf = pdf.sort_values("doc_id")
        rat = [_ELO_START] * 8
        games = [0] * 8
        wins = [0] * 8
        for i, j, w in zip(pdf["i"].astype("int64"),
                           pdf["j"].astype("int64"),
                           pdf["w"].astype("int64")):
            i, j, w = int(i), int(j), int(w)
            b = max(-40, min(40, _tdiv(rat[i] - rat[j], 25)))
            e = table[b + 40]
            sa = 1000 if w == i else 0
            delta = _tdiv(_ELO_K * (sa - e), 1000)
            rat[i] += delta
            rat[j] -= delta
            games[i] += 1
            games[j] += 1
            wins[w] += 1
        return pd.DataFrame(
            {"pool": [int(key[0])] * 8, "item": list(range(8)),
             "rating": rat, "games": games, "wins": wins})

    g = _elo_games(spark, sf)
    out = g.groupBy("pool").applyInPandas(
        fold, "pool long, item long, rating long, games long, wins long")
    return _sorted1(out, "pool", "item")


def _elo_oracle() -> str:
    tab = ", ".join(f"({b}, {e})"
                    for b, e in zip(range(-40, 41), _elo_table()))
    # Δ inlined twice (i and j branches), exactly like the ADPCM oracle
    # inlines its step expression.
    delta = ("(32 * ((CASE WHEN g.w = g.i THEN 1000 ELSE 0 END) - t.e))"
             " // 1000")
    return f"""
WITH RECURSIVE
tab(b, e) AS (VALUES {tab}),
g0 AS (
  SELECT doc_id, (doc_id // 64) % 4 AS pool,
         doc_id % 8 AS i, (doc_id // 8) % 8 AS j,
         ('0x' || substr(md5('elo:' || CAST(doc_id AS VARCHAR)), 1, 12))
           ::BIGINT % 100 AS r
  FROM documents WHERE doc_id % 8 <> (doc_id // 8) % 8),
g AS (
  SELECT pool, doc_id, i, j,
         CASE WHEN r < 50 + 6 * (i - j) THEN i ELSE j END AS w,
         ROW_NUMBER() OVER (PARTITION BY pool ORDER BY doc_id) AS rn
  FROM g0),
np AS (SELECT pool, MAX(rn) AS n FROM g GROUP BY pool),
r(pool, rn, rt) AS (
  SELECT pool, CAST(0 AS BIGINT),
         list_transform(range(8), x -> CAST({_ELO_START} AS BIGINT))
  FROM np
  UNION ALL
  SELECT r.pool, r.rn + 1,
         list_transform(range(1, 9), x ->
             CASE WHEN x - 1 = g.i THEN rt[x] + {delta}
                  WHEN x - 1 = g.j THEN rt[x] - {delta}
                  ELSE rt[x] END)
  FROM r
  JOIN g ON g.pool = r.pool AND g.rn = r.rn + 1
  JOIN tab t ON t.b = GREATEST(-40, LEAST(40,
      (rt[CAST(g.i + 1 AS INT)] - rt[CAST(g.j + 1 AS INT)]) // 25))),
fin AS (SELECT r.pool, rt FROM r JOIN np ON np.pool = r.pool
        WHERE r.rn = np.n),
items AS (SELECT CAST(x.g AS BIGINT) AS item
          FROM generate_series(0, 7) x(g)),
stats AS (
  SELECT u.pool, it.item,
         CAST(COUNT(*) FILTER (g2.i = it.item OR g2.j = it.item)
              AS BIGINT) AS games,
         CAST(COUNT(*) FILTER (g2.w = it.item) AS BIGINT) AS wins
  FROM (SELECT DISTINCT pool FROM g) u
  CROSS JOIN items it
  LEFT JOIN g g2 ON g2.pool = u.pool
  GROUP BY u.pool, it.item)
SELECT s.pool, s.item,
       CAST(f.rt[CAST(s.item + 1 AS INT)] AS BIGINT) AS rating,
       s.games, s.wins
FROM stats s JOIN fin f ON f.pool = s.pool
ORDER BY s.pool, s.item
"""


register(
    "elo_ratings",
    _elo_ratings,
    _elo_oracle(),
    doc="Online Elo over pooled leagues: integer zero-sum updates with "
        "a quantized 81-bucket expectation table (FIDE-style), "
        "truncating division matched across Spark div / DuckDB // / a "
        "sign-aware Python helper; per-pool sequential fold behind one "
        "pool-keyed shuffle; recursive-CTE oracle replays every "
        "transition.",
)


# ---------------------------------------------------------------------------
# Exact AUC for the linear probe — the ranking-quality metric next to
# quality_probe_eval's thresholded confusion matrix: AUC is the
# probability a random positive outscores a random negative, computed
# EXACTLY by the rank-sum (Mann-Whitney U) identity with the standard
# half-credit tie handling, all in integers: 2U = Σ_s np_s·(2·N<_s +
# nn_s) over DISTINCT scores, auc_micro = 10⁶·2U div (2·P·N). Scores
# collapse to distinct (x1, x2) feature pairs (caps make this a design
# constant, the same bound class as quality_stump's prefix sums), so
# the one global prefix-sum window runs over a capped aggregate, never
# corpus rows. BIGINT headroom: 10⁶·2U < 2⁶³ through sf10-scale
# corpora; a 100 TB deployment lifts the multiplier into DECIMAL the
# same way the diversity index does.
# ---------------------------------------------------------------------------

def _probe_auc_rank(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    m = _moments(spark, sf)
    w0, w1, w2, _det = _solve(m)
    d = _t(spark, sf, "documents")
    x1c, x2c, yc = _features()
    feats = d.select(x1c, x2c, yc)
    score = (F.lit(w0) + F.lit(w1) * F.col("x1").cast("double")
             + F.lit(w2) * F.col("x2").cast("double"))
    g = (feats.select(score.alias("s"), "y")
         .groupBy("s")
         .agg(F.sum("y").alias("np"),
              F.sum(1 - F.col("y")).alias("nn")))
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    per = (g.withColumn("cum_nn", F.sum("nn").over(w))
           .withColumn("u2_s",
                       F.col("np") * (2 * (F.col("cum_nn") - F.col("nn"))
                                      + F.col("nn"))))
    return per.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.count(F.lit(1)).alias("n_scores"),
        F.sum("u2_s").cast("long").alias("u2"),
        F.expr("(1000000 * sum(u2_s)) div (2 * sum(np) * sum(nn))")
        .cast("long").alias("auc_micro"))


_AUC_ORACLE = """
WITH f AS (%s),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS hn,
         CAST(SUM(x1) AS HUGEINT) AS h1, CAST(SUM(x2) AS HUGEINT) AS h2,
         CAST(SUM(x1 * x1) AS HUGEINT) AS h11,
         CAST(SUM(x1 * x2) AS HUGEINT) AS h12,
         CAST(SUM(x2 * x2) AS HUGEINT) AS h22,
         CAST(SUM(y) AS HUGEINT) AS hb0,
         CAST(SUM(x1 * y) AS HUGEINT) AS hb1,
         CAST(SUM(x2 * y) AS HUGEINT) AS hb2
  FROM f),
w AS (
  SELECT
    CAST(hb0 * (h11 * h22 - h12 * h12)
       - h1 * (hb1 * h22 - h12 * hb2)
       + h2 * (hb1 * h12 - h11 * hb2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w0,
    CAST(hn * (hb1 * h22 - h12 * hb2)
       - hb0 * (h1 * h22 - h12 * h2)
       + h2 * (h1 * hb2 - hb1 * h2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w1,
    CAST(hn * (h11 * hb2 - hb1 * h12)
       - h1 * (h1 * hb2 - hb1 * h2)
       + hb0 * (h1 * h12 - h11 * h2) AS DOUBLE)
      / CAST(hn * (h11 * h22 - h12 * h12)
           - h1 * (h1 * h22 - h12 * h2)
           + h2 * (h1 * h12 - h11 * h2) AS DOUBLE) AS w2
  FROM m),
sc AS (
  SELECT w0 + w1 * CAST(x1 AS DOUBLE) + w2 * CAST(x2 AS DOUBLE) AS s, y
  FROM f, w),
g AS (
  SELECT s, CAST(SUM(y) AS BIGINT) AS np,
         CAST(SUM(1 - y) AS BIGINT) AS nn
  FROM sc GROUP BY s),
per AS (
  SELECT np, nn,
         SUM(nn) OVER (ORDER BY s
                       ROWS UNBOUNDED PRECEDING) AS cum_nn
  FROM g)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       CAST(COUNT(*) AS BIGINT) AS n_scores,
       CAST(SUM(np * (2 * (cum_nn - nn) + nn)) AS BIGINT) AS u2,
       CAST((1000000 * SUM(np * (2 * (cum_nn - nn) + nn)))
            // (2 * SUM(np) * SUM(nn)) AS BIGINT) AS auc_micro
FROM per
""" % _FEATURES_SQL

register(
    "probe_auc_rank",
    _probe_auc_rank,
    _AUC_ORACLE,
    doc="Exact AUC of the linear probe via the Mann-Whitney rank-sum "
        "identity with half-credit ties — integer 2U over distinct "
        "capped-feature scores, one prefix-sum window over the score "
        "aggregate (design-bounded), truncating-division micro units.",
)


# ---------------------------------------------------------------------------
# isotonic_calibration (r11): the PAVA-optimal monotone calibration
# curve for a quality score against a binary target, via the MINIMAX
# closed form iso[i] = max_{j<=i} min_{k>=i} mean(y over buckets j..k)
# — identical to pool-adjacent-violators (Barlow et al. 1972) but
# expressed as bounded joins instead of an iterative merge, so it is
# fully declarative and oracle-exact: prefix sums are exact integers,
# each interval mean is ONE IEEE division, min/max are order-free.
# Scale: the score is bucketed to <=64 cells up front (one combinable
# agg over the corpus); everything after runs on the 64-row bucket
# table (64^3 minimax tuples — constant work, broadcast joins).
# Registered BEHIND the r11 window.
# ---------------------------------------------------------------------------

def _isotonic_calibration(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    nt = F.size(tokens(F.col("text")))
    bucket = F.least(F.lit(63), F.floor(nt * 64 / F.lit(50)).cast("int"))
    y = (F.col("lang") == "en").cast("int")
    bt = (docs.select(bucket.alias("bucket"), y.alias("y"))
              .groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("y").cast("long").alias("pos")))
    from pyspark.sql import Window
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    pref = (bt.withColumn("cp", F.sum("pos").over(w))
              .withColumn("cn", F.sum("n").over(w)))
    pj = pref.select(F.col("bucket").alias("j"),
                     (F.col("cp") - F.col("pos")).alias("cpj"),
                     (F.col("cn") - F.col("n")).alias("cnj"))
    pk = pref.select(F.col("bucket").alias("k"),
                     F.col("cp").alias("cpk"), F.col("cn").alias("cnk"))
    m = (pj.crossJoin(pk).where(F.col("k") >= F.col("j"))
           .select("j", "k",
                   ((F.col("cpk") - F.col("cpj")).cast("double")
                    / (F.col("cnk") - F.col("cnj")).cast("double"))
                    .alias("mjk")))
    ids = pref.select(F.col("bucket").alias("i"))
    t1 = (m.crossJoin(ids)
           .where((F.col("j") <= F.col("i")) & (F.col("i") <= F.col("k")))
           .groupBy("i", "j").agg(F.min("mjk").alias("mn")))
    iso = t1.groupBy("i").agg(F.max("mn").alias("iso_rate"))
    return (pref.join(iso, pref["bucket"] == iso["i"])
                .select("bucket", "n", "pos",
                        (F.col("pos").cast("double")
                         / F.col("n").cast("double")).alias("raw_rate"),
                        "iso_rate")
                .transform(_sorted1, "bucket"))


register(
    "isotonic_calibration",
    _isotonic_calibration,
    """
WITH d AS (
  SELECT LEAST(63, CAST(FLOOR(len(string_split_regex(trim(text), '\\s+'))
                             * 64 / 50) AS INT)) AS bucket,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
bt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(y) AS BIGINT) AS pos
       FROM d GROUP BY bucket),
pref AS (SELECT bucket, n, pos,
                SUM(pos) OVER (ORDER BY bucket) AS cp,
                SUM(n) OVER (ORDER BY bucket) AS cn
         FROM bt),
m AS (SELECT pj.bucket AS j, pk.bucket AS k,
             CAST(pk.cp - (pj.cp - pj.pos) AS DOUBLE)
               / CAST(pk.cn - (pj.cn - pj.n) AS DOUBLE) AS mjk
      FROM pref pj, pref pk WHERE pk.bucket >= pj.bucket),
t1 AS (SELECT i.bucket AS i, m.j, MIN(m.mjk) AS mn
       FROM m, pref i
       WHERE m.j <= i.bucket AND i.bucket <= m.k
       GROUP BY 1, 2),
iso AS (SELECT i, MAX(mn) AS iso_rate FROM t1 GROUP BY i)
SELECT CAST(p.bucket AS INT) AS bucket, p.n, p.pos,
       CAST(p.pos AS DOUBLE) / CAST(p.n AS DOUBLE) AS raw_rate,
       iso.iso_rate
FROM pref p JOIN iso ON iso.i = p.bucket
ORDER BY p.bucket
""",
    doc="PAVA isotonic calibration via the minimax closed form over "
        "<=64 score buckets: exact integer prefix sums, one IEEE "
        "division per interval mean, order-free min/max — the whole "
        "monotone curve is oracle-exact.",
)
