"""Scale-family queries, part file: sampling, packing, token budgets, domain mixtures, DSIR, BPE, diagnostics, sketches-adjacent scale ops (registrations ~70-140).

Split from queries_scale.py at registration boundaries — see
queries_scale_common.py for why the split is positional.
"""

from .operators.spread import fanout
from .queries_scale_common import *  # noqa: F401,F403
from .queries_scale_part1 import (  # noqa: F401 — earlier-part helpers
    _ANN_QUERY_IDS, _BANDS_SQL, _BPE_MERGES,
    _DUCK_EVENTS, _HIT_SQL, _NEARDUP_CLOSURE_SQL,
    _PRED_SQL, _SIG_SQL, _STOP_SQL,
    _STRAT_BUCKETS, _STRAT_RATES, _duck_gopher_ctes,
    _ivf_kmeans, _ivf_kmeans_oracle,
)

# ---------------------------------------------------------------------------
# Token-budget waterfill: allocate a global training-token budget across
# sources without oversampling any — each source is funded up to a
# common water level L, capped at its own supply, with L chosen so the
# total allocation is EXACTLY the budget (remainder tokens go one each
# to the smallest unfunded sources). The closed form needs no
# iteration: sort sources by supply ascending; source k is fully funded
# iff prefix(k-1) + supply_k · (n-k+1) <= B (fullness is a prefix of
# the sort order), the tail level is (B - Σ full supply) div n_tail.
# Integer arithmetic end-to-end → engine-exact. All windows run over
# the per-SOURCE aggregate (|sources| rows — small by definition), so
# the single-partition window is a non-issue at any corpus scale; the
# one data-sized pass is the combinable per-source token sum.
# ---------------------------------------------------------------------------

def _token_budget_waterfill(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.packing import waterfill
    from .operators.text import tokens
    d = _t(spark, sf, "documents")
    sup = (d.select("source",
                    F.size(tokens(F.col("text"))).cast("long").alias("nt"))
            .groupBy("source").agg(F.sum("nt").alias("supply_tokens")))
    return (waterfill(sup, key_col="source", supply_col="supply_tokens",
                      budget_num=6, budget_den=10)
            .select("source", "supply_tokens", "fully_funded",
                    "allocated_tokens",
                    (F.col("allocated_tokens").cast("double")
                     / F.col("supply_tokens").cast("double"))
                     .alias("fill_ratio"))
            .orderBy("source"))


register(
    "token_budget_waterfill",
    _token_budget_waterfill,
    r"""
WITH sup AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
           AS supply_tokens
  FROM documents GROUP BY source),
g AS (
  SELECT source, supply_tokens,
         ROW_NUMBER() OVER (ORDER BY supply_tokens, source) AS k,
         COUNT(*) OVER () AS n,
         CAST(SUM(supply_tokens) OVER () AS BIGINT) AS total,
         CAST(COALESCE(SUM(supply_tokens) OVER (
              ORDER BY supply_tokens, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS prefix
  FROM sup),
f AS (
  SELECT *, total * 6 // 10 AS budget,
         (prefix + supply_tokens * (n - k + 1)) <= (total * 6 // 10)
           AS fully_funded
  FROM g),
a AS (
  SELECT *,
         CAST(SUM(CASE WHEN fully_funded THEN supply_tokens ELSE 0 END)
              OVER () AS BIGINT) AS prefix_full,
         CAST(SUM(CASE WHEN fully_funded THEN 1 ELSE 0 END) OVER ()
           AS BIGINT) AS n_full,
         n - SUM(CASE WHEN fully_funded THEN 1 ELSE 0 END) OVER () AS n_tail
  FROM f),
r AS (
  SELECT source, supply_tokens, fully_funded,
         CAST(CASE WHEN fully_funded THEN supply_tokens
                   WHEN n_tail = 0 THEN supply_tokens
                   ELSE (budget - prefix_full) // n_tail
                        + (CASE WHEN (k - n_full)
                                     <= (budget - prefix_full) % n_tail
                           THEN 1 ELSE 0 END)
              END AS BIGINT) AS allocated_tokens
  FROM a)
SELECT source, supply_tokens, fully_funded, allocated_tokens,
       CAST(allocated_tokens AS DOUBLE) / CAST(supply_tokens AS DOUBLE)
         AS fill_ratio
FROM r ORDER BY source
""",
    doc="Deterministic token-budget waterfill across sources (budget = "
        "60% of total supply): fund each source up to a common water "
        "level capped at its supply, remainder one-token grants to the "
        "smallest unfunded sources — Σ allocated == budget exactly, "
        "closed form, integer arithmetic end-to-end.",
)


# ---------------------------------------------------------------------------
# Training-data RELEASE manifest: the round-5 operators composed into
# one release chain — Gopher gate → exact dedup → stratified mix
# thinning → deterministic split — summarized per (split, lang). Every
# stage is hash-threshold/rule-deterministic, so the whole chain has a
# single mirrored oracle.
# ---------------------------------------------------------------------------

def _release_manifest(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup_fuzzy import exact_dedup_survivors
    from .operators.serve import hash_split, stratified_hash_sample
    from .operators.text import BPE_ISH_PATTERN, gopher_passes_expr
    docs = _t(spark, sf, "documents")
    # r12: the gopher verdict is one inline filter expression
    # (bit-identical to gopher_quality_flags' conjunction — the same
    # inlining filter_funnel got in r11): the flags-frame + semi-join
    # shape scanned documents twice and evaluated the regex pass in a
    # broadcast branch.
    good = docs.filter(gopher_passes_expr(F.col("text")))
    deduped = exact_dedup_survivors(good)
    sampled = stratified_hash_sample(deduped, _STRAT_RATES,
                                     n_buckets=_STRAT_BUCKETS)
    split = hash_split(sampled)
    per_doc = split.select(
        "split", "lang", "source",
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
         .cast("long").alias("n_tok"))
    return (per_doc.groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("n_tokens"),
                 F.countDistinct("source").alias("n_sources"))
            .transform(_sorted1, "split", "lang"))


def _release_oracle() -> str:
    gopher_ctes, gopher_cond = _duck_gopher_ctes()
    rate_vals = ",\n    ".join(
        f"('{s}', {int(round(r * _STRAT_BUCKETS))})"
        for s, r in sorted(_STRAT_RATES.items()))
    samp_bucket = (f"('0x' || substr(md5(source || ':' || "
                   f"CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT "
                   f"% {_STRAT_BUCKETS}")
    split_bucket = _duck_md5_hash("CAST(doc_id AS VARCHAR)") + " % 10000"
    return f"""
WITH {gopher_ctes},
good AS (
  SELECT d.* FROM documents d
  JOIN (SELECT doc_id FROM b WHERE {gopher_cond}) g USING (doc_id)),
ded AS (
  SELECT doc_id, text, lang, source FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id ASC) AS rn
    FROM good) x WHERE rn = 1),
r AS (SELECT * FROM (VALUES
    {rate_vals}) rt(source, _thr)),
samp AS (
  SELECT ded.* FROM ded LEFT JOIN r USING (source)
  WHERE {samp_bucket} < COALESCE(_thr, {_STRAT_BUCKETS})),
sp AS (
  SELECT lang, source,
         CASE WHEN {split_bucket} < 9000 THEN 'train'
              WHEN {split_bucket} < 9500 THEN 'val'
              ELSE 'test' END AS split,
         len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]'))
           AS n_tok
  FROM samp)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM sp GROUP BY split, lang ORDER BY split, lang
"""


register(
    "release_manifest",
    _release_manifest,
    _release_oracle(),
    doc="Composed training-data release chain: Gopher rule gate → "
        "exact-dedup survivors → per-source hash thinning → "
        "deterministic 90/5/5 split, summarized per (split, lang). "
        "Every stage is a pure function of the data, so the manifest "
        "is reproducible from the raw corpus alone.",
)


# ---------------------------------------------------------------------------
# Exact-substring duplication coverage (Lee et al. 2022 ExactSubstr):
# positional W-token window hashing → cross-doc collision → per-doc
# island merge. Positional, unlike the set-based MinHash/containment
# family: it localizes WHICH token runs are shared verbatim.
# ---------------------------------------------------------------------------

_XS_W = 8


def _exact_substring(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import exact_substring_coverage
    return exact_substring_coverage(_t(spark, sf, "documents"),
                                    window=_XS_W)


register(
    "exact_substring_coverage",
    _exact_substring,
    f"""
WITH base AS (
  SELECT doc_id, list_filter({_DUCK_TOKENS}, t -> t <> '') AS tk
  FROM documents),
sized AS (SELECT doc_id, tk, len(tk) AS n FROM base),
w AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(tk[i : i + {_XS_W - 1}], ' ')) AS h
  FROM (SELECT doc_id, tk,
               unnest(CASE WHEN n >= {_XS_W}
                      THEN range(1, n - {_XS_W} + 2)
                      ELSE CAST([] AS BIGINT[]) END) AS i
        FROM sized)),
dup AS (SELECT h FROM w GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
dw AS (SELECT w.doc_id, w.start, w.start + {_XS_W - 1} AS e
       FROM w JOIN dup USING (h)),
isl AS (
  SELECT doc_id, start, e,
         CASE WHEN start > COALESCE(MAX(e) OVER (
                  PARTITION BY doc_id ORDER BY start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -2) + 1 THEN 1 ELSE 0 END AS ni
  FROM dw),
g AS (SELECT doc_id, start, e,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY start
                           ROWS UNBOUNDED PRECEDING) AS isl_id
      FROM isl),
cov AS (SELECT doc_id, isl_id, MIN(start) AS s, MAX(e) AS e2,
               COUNT(*) AS nw
        FROM g GROUP BY 1, 2),
per AS (SELECT doc_id,
               CAST(SUM(nw) AS BIGINT) AS n_dup_windows,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e2 - s + 1) AS BIGINT) AS covered_tokens
        FROM cov GROUP BY doc_id)
SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_tokens,
       COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.covered_tokens, 0) AS covered_tokens,
       CASE WHEN s.n > 0
            THEN CAST(COALESCE(p.covered_tokens, 0) AS DOUBLE)
                 / CAST(s.n AS DOUBLE)
            ELSE 0.0 END AS dup_frac
FROM sized s LEFT JOIN per p USING (doc_id) ORDER BY s.doc_id
""",
    doc="Exact-substring duplication coverage (ExactSubstr, Lee et al. "
        "2022): 8-token sliding-window hashes, cross-doc collisions, "
        "per-doc maximal-span merge (gaps-and-islands over duplicated "
        "windows only). Linear explode + combinable hash agg; the only "
        "window functions run per-doc over the duplicated subset.",
)


# ---------------------------------------------------------------------------
# Blocked fuzzy entity matching (record linkage): levenshtein over
# within-block candidate pairs of the DISTINCT part-name dictionary.
# ---------------------------------------------------------------------------

def _fuzzy_part_match(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.join import blocked_fuzzy_pairs
    names = _t(spark, sf, "part").select("p_name").distinct()
    return blocked_fuzzy_pairs(names, "p_name",
                               "split_part(p_name, ' ', 2)", max_dist=4)


register(
    "fuzzy_part_match",
    _fuzzy_part_match,
    """
WITH n AS (SELECT DISTINCT p_name FROM part),
s AS (SELECT p_name AS nm, split_part(p_name, ' ', 2) AS blk FROM n)
SELECT a.nm AS name_a, b.nm AS name_b,
       CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
FROM s a JOIN s b ON a.blk = b.blk AND a.nm < b.nm
WHERE levenshtein(a.nm, b.nm) <= 4
ORDER BY name_a, name_b
""",
    doc="Blocked fuzzy entity matching over the distinct part-name "
        "dictionary: block on the noun, Levenshtein <= 4 within blocks "
        "— Σ block² candidates, never n²; unit edit distance agrees "
        "exactly between Spark and DuckDB.",
)


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (XLM-R/mT5 α-smoothing, α = 1/2):
# target_frac_i ∝ n_i^α flattens the source distribution without going
# fully uniform. α = 1/2 is computed as IEEE sqrt (correctly rounded in
# both engines) and the denominator is folded in SORTED source order on
# both sides — Spark aggregate() over an array_sort'ed collect_list,
# DuckDB SUM(... ORDER BY source) — so the double sum is order-pinned
# and the whole result stays hash-exact.
# ---------------------------------------------------------------------------

def _source_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import temperature_mix
    return temperature_mix(_t(spark, sf, "documents"))


register(
    "source_temperature_mix",
    _source_temperature_mix,
    """
WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
             SUM(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source) AS denom
      FROM c)
SELECT source, n_docs,
       n_docs / n_total AS actual_frac,
       sqrt(CAST(n_docs AS DOUBLE)) / denom AS target_frac,
       (sqrt(CAST(n_docs AS DOUBLE)) / denom) / (n_docs / n_total)
         AS sample_weight
FROM c CROSS JOIN t ORDER BY source
""",
    doc="Temperature-scaled source mixing (α = 1/2, XLM-R-style): "
        "flattens the domain distribution via per-source sqrt weights; "
        "the only inexact op is IEEE sqrt (correctly rounded in both "
        "engines) and the denominator fold is order-pinned by source.",
)


# ---------------------------------------------------------------------------
# CCNet-style LM buckets: per-language head/middle/tail split of the
# bigram-LM quality score at the exact p25/p75 order statistics (same
# one-lerp-formula-on-both-engines device as quality_calibrated_filter;
# 0.25/0.75 are exact binary doubles, so the thresholds are bit-stable).
# CCNet buckets by wikipedia-LM perplexity; the add-1 bigram mean
# probability is this repo's exact-arithmetic stand-in for it.
# ---------------------------------------------------------------------------

def _lerp_spark(frac: str, arr: str = "arr") -> str:
    lo = f"CAST(floor({frac} * (size({arr}) - 1)) AS INT) + 1"
    return (f"element_at({arr}, {lo})"
            f" + ({frac} * (size({arr}) - 1)"
            f"    - floor({frac} * (size({arr}) - 1)))"
            f"   * (element_at({arr}, least({lo} + 1, size({arr})))"
            f"      - element_at({arr}, {lo}))")


def _lerp_duck(frac: str, arr: str = "arr") -> str:
    lo = f"CAST(floor({frac} * (len({arr}) - 1)) AS INT) + 1"
    return (f"{arr}[{lo}]"
            f" + ({frac} * (len({arr}) - 1)"
            f"    - floor({frac} * (len({arr}) - 1)))"
            f"   * ({arr}[least({lo} + 1, len({arr}))] - {arr}[{lo}])")


def _ccnet_lm_buckets(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import bigram_lm_scores
    docs = _t(spark, sf, "documents")
    scored = (docs.select("doc_id", "lang")
                  .join(bigram_lm_scores(docs), "doc_id"))
    # Consumed twice (threshold build + bucket join): materialize the
    # NARROW score table once — 4 columns per doc, not the corpus — so
    # the bigram-LM chain doesn't recompute per consumer (same
    # convention as the CC rounds' per-iteration checkpoint).
    scored = scored.localCheckpoint(eager=True)
    thr = (scored.groupBy("lang")
           .agg(F.sort_array(F.collect_list("mean_bigram_p")).alias("arr"))
           .select("lang",
                   F.expr(_lerp_spark("0.25")).alias("p25"),
                   F.expr(_lerp_spark("0.75")).alias("p75")))
    b = (scored.join(F.broadcast(thr), "lang")
         .withColumn("bucket",
                     F.when(F.col("mean_bigram_p") >= F.col("p75"), "head")
                      .when(F.col("mean_bigram_p") >= F.col("p25"), "middle")
                      .otherwise(F.lit("tail"))))
    return (b.groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_bigrams").alias("total_bigrams"),
                 F.min("mean_bigram_p").alias("min_score"),
                 F.max("mean_bigram_p").alias("max_score"))
            .transform(_sorted1, "lang", "bucket"))


register(
    "ccnet_lm_buckets",
    _ccnet_lm_buckets,
    f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
pos AS (SELECT doc_id, unnest(tk) AS w1,
               generate_subscripts(tk, 1) AS pos FROM toks),
big AS (SELECT doc_id, pos, w1,
               lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM pos),
bg AS (SELECT * FROM big WHERE w2 IS NOT NULL),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
v AS (SELECT COUNT(DISTINCT w1) AS v FROM pos),
p AS (SELECT bg.doc_id, bg.pos,
             CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.v) AS p
      FROM bg
      JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
      JOIN c1 ON c1.w1 = bg.w1
      CROSS JOIN v),
sc0 AS (SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                        list(p ORDER BY pos)),
                           (a, b) -> a + b) / COUNT(*) AS s
        FROM p GROUP BY doc_id),
sc AS (SELECT d.lang, sc0.* FROM sc0 JOIN documents d USING (doc_id)),
thr0 AS (SELECT lang, list_sort(list(s)) AS arr FROM sc GROUP BY lang),
thr AS (SELECT lang, {_lerp_duck("0.25")} AS p25,
                     {_lerp_duck("0.75")} AS p75
        FROM thr0),
b AS (SELECT sc.lang, sc.n_bigrams, sc.s,
             CASE WHEN sc.s >= thr.p75 THEN 'head'
                  WHEN sc.s >= thr.p25 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM sc JOIN thr ON thr.lang = sc.lang)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
       MIN(s) AS min_score,
       MAX(s) AS max_score
FROM b GROUP BY lang, bucket ORDER BY lang, bucket
""",
    doc="CCNet-style head/middle/tail LM-quality buckets per language "
        "at exact p25/p75 order statistics; per-group sorted-list lerp "
        "broadcast back — no percentile window over the corpus.",
)


# ---------------------------------------------------------------------------
# Filter funnel datasheet (FineWeb-style ablation reporting): how many
# documents each curation stage removes, marginally, in pipeline order —
# the artifact that justifies every rule's existence before a run drops
# data. Counts only (plus one exact integer-ratio division), so the
# whole funnel is one scan + tiny combinable aggs.
# ---------------------------------------------------------------------------

def _filter_funnel(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup_fuzzy import canonical_text
    from .operators.text import gopher_passes_expr, lang_pred_expr
    docs = _t(spark, sf, "documents")
    # One projection computes all three stage signals (guide §2.4): the
    # old shape joined gopher_quality_flags back on doc_id, scanning and
    # tokenizing the corpus TWICE plus a join exchange for flags that
    # are pure Column expressions over the same text.
    # fanout: all three signals are regex-dense and the bench-scale
    # scan is one parquet file (single task); no-op on real multi-split
    # inputs.
    base = fanout(docs.select("doc_id", "text")).select(
        "doc_id",
        lang_pred_expr(F.col("text")).alias("lp"),
        F.md5(canonical_text(F.col("text"))).alias("h"),
        gopher_passes_expr(F.col("text")).alias("passes_gopher"))
    pass2 = F.col("passes_gopher") & (F.col("lp") != "und")
    a = base.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("passes_gopher").cast("long")).alias("n1"),
        F.sum(pass2.cast("long")).alias("n2"),
        # keep-first exact dedup of stage-2 survivors ≡ distinct hashes
        F.countDistinct(F.when(pass2, F.col("h"))).alias("n3"))
    stages = F.explode(F.array(
        F.struct(F.lit(1).alias("stage"),
                 F.lit("gopher_rules").alias("rule"),
                 F.col("n0").alias("n_in"), F.col("n1").alias("n_out")),
        F.struct(F.lit(2).alias("stage"),
                 F.lit("lang_known").alias("rule"),
                 F.col("n1").alias("n_in"), F.col("n2").alias("n_out")),
        F.struct(F.lit(3).alias("stage"),
                 F.lit("exact_dedup").alias("rule"),
                 F.col("n2").alias("n_in"), F.col("n3").alias("n_out"))))
    return (a.select(stages.alias("s")).select("s.*")
             .withColumn("n_removed", F.col("n_in") - F.col("n_out"))
             .withColumn("removed_frac", F.col("n_removed") / F.col("n_in"))
             .transform(_sorted1, "stage"))


def _funnel_oracle() -> str:
    ctes, cond = _duck_gopher_ctes()
    return f"""
WITH {ctes},
lp AS (SELECT doc_id, {_PRED_SQL} AS lp
       FROM (SELECT doc_id, {_HIT_SQL} FROM t) x),
flags AS (SELECT b.doc_id, ({cond}) AS pg, lp.lp,
                 md5(regexp_replace(lower(trim(t.text)), '\\s+', ' ', 'g'))
                   AS h
          FROM b JOIN lp USING (doc_id) JOIN t USING (doc_id)),
a AS (SELECT COUNT(*) AS n0,
             COUNT(*) FILTER (WHERE pg) AS n1,
             COUNT(*) FILTER (WHERE pg AND lp <> 'und') AS n2,
             COUNT(DISTINCT h) FILTER (WHERE pg AND lp <> 'und') AS n3
      FROM flags)
SELECT stage, rule, n_in, n_out,
       n_in - n_out AS n_removed,
       (n_in - n_out) / n_in AS removed_frac
FROM (
  SELECT 1 AS stage, 'gopher_rules' AS rule, n0 AS n_in, n1 AS n_out FROM a
  UNION ALL
  SELECT 2, 'lang_known', n1, n2 FROM a
  UNION ALL
  SELECT 3, 'exact_dedup', n2, n3 FROM a) s
ORDER BY stage
"""


register(
    "filter_funnel",
    _filter_funnel,
    _funnel_oracle(),
    doc="Curation filter funnel: marginal document removal per stage "
        "(Gopher rules → known language → exact dedup) in pipeline "
        "order — one scan, combinable aggs, the ablation datasheet "
        "published with a curation run.",
)


# ---------------------------------------------------------------------------
# Incremental rollup merge: the monthly orders rollup computed as two
# disjoint partials (history < 1997, increment >= 1997) MERGED via the
# mergeable-aggregate algebra, against a single-pass oracle — hash
# equality certifies the merge is lossless, i.e. the incremental
# pipeline can maintain the rollup without ever re-reading history.
# ---------------------------------------------------------------------------

def _incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.incremental import merge_rollups, partial_rollup
    o = _t(spark, sf, "orders").select(
        F.trunc("o_orderdate", "month").alias("month"),
        F.year("o_orderdate").alias("yr"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"))
    hist = partial_rollup(o.filter(F.col("yr") < 1997).drop("yr"),
                          ["month"], "price")
    inc = partial_rollup(o.filter(F.col("yr") >= 1997).drop("yr"),
                         ["month"], "price")
    merged = merge_rollups(hist, inc, ["month"])
    return (merged.select(
                "month", "cnt",
                # Accumulation stays exact decimal inside the merge
                # algebra; publication is DOUBLE-only (no DECIMAL in any
                # published schema — the r06 canary pair showed the
                # driver harness hash-diverges on decimal publication at
                # every width; decimal→double is deterministic).
                F.col("total").cast("double").alias("total"),
                F.col("min_v").cast("double").alias("min_v"),
                F.col("max_v").cast("double").alias("max_v"),
                (F.col("total").cast("double")
                 / F.col("cnt")).alias("avg_price"))
            .transform(_sorted1, "month"))


register(
    "incremental_rollup_merge",
    _incremental_rollup,
    """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            AS DOUBLE) AS total,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_v,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            AS DOUBLE) / COUNT(*) AS avg_price
FROM orders
GROUP BY month ORDER BY month
""",
    doc="Monthly orders rollup maintained incrementally: two disjoint "
        "partials merged via the count/sum/min/max algebra, oracle is "
        "the single-pass aggregation — hash equality certifies the "
        "merge is lossless and history never needs re-reading.",
)


# ---------------------------------------------------------------------------
# Per-user EWMA of daily activity (α = 1/2): the exponential-smoothing
# signal behind engagement scoring / anomaly baselines. The smoothing is
# an ORDER-SENSITIVE fold, so both engines fold the date-sorted daily
# counts sequentially (Spark: aggregate over array_sort; DuckDB:
# list_reduce over list(... ORDER BY d)) — α = 1/2 is a power of two,
# and identical IEEE ops in identical order make the value hash-exact.
# State per user is one (date, count) list bounded by the day span, not
# the event volume — the same per-key-bounded shape as sessionization.
# ---------------------------------------------------------------------------

def _ewma_user_activity(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    daily = (e.select(F.col("user_id"), F.to_date("ts").alias("d"))
              .groupBy("user_id", "d")
              .agg(F.count(F.lit(1)).alias("c")))
    arr = F.array_sort(F.collect_list(F.struct(
        F.col("d"), F.col("c").cast("double").alias("c"))))
    return (daily.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.sum("c").alias("total_events"),
                 F.aggregate(
                     F.slice(arr, 2,
                             F.greatest(F.size(arr) - 1, F.lit(0))),
                     F.element_at(arr, 1)["c"],
                     lambda acc, x: 0.5 * x["c"] + 0.5 * acc).alias("ewma"))
            .transform(_sorted1, "user_id"))


register(
    "ewma_user_activity",
    _ewma_user_activity,
    f"""
WITH e AS ({_DUCK_EVENTS}),
daily AS (SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS c
          FROM e GROUP BY 1, 2)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(c) AS BIGINT) AS total_events,
       list_reduce(list(CAST(c AS DOUBLE) ORDER BY d),
                   (a, b) -> 0.5 * b + 0.5 * a) AS ewma
FROM daily GROUP BY user_id ORDER BY user_id
""",
    doc="Per-user EWMA (α = 1/2) of daily event counts — order-pinned "
        "sequential fold on both engines; per-key state bounded by day "
        "span, never event volume.",
)


# ---------------------------------------------------------------------------
# Near-dup graph triangle census: cliques vs chains in the verified
# LSH pair graph — the QA signal CC can't give (a 100-doc chain and a
# 100-doc clique are one component each, but only the clique closes
# triangles).
# ---------------------------------------------------------------------------

def _neardup_triangles(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.graph import triangle_stats
    pairs = minhash_dedup_pairs(_t(spark, sf, "documents"), threshold=0.2)
    return triangle_stats(pairs)


register(
    "neardup_triangles",
    _neardup_triangles,
    f"""
WITH {_DUCK_HS},
sig AS (SELECT doc_id, {_SIG_SQL} FROM hs GROUP BY doc_id),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS c
  FROM cand p
  JOIN hs ha ON ha.doc_id = p.doc_a
  JOIN hs hb ON hb.doc_id = p.doc_b AND hb.h = ha.h
  GROUP BY 1, 2),
e AS (SELECT c.doc_a AS a, c.doc_b AS b
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE c.c / (sa.n + sb.n - c.c) >= 0.2),
deg AS (SELECT node, COUNT(*) AS deg FROM (
          SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node),
base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
         FROM deg),
ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),
tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN CAST(n_triangles * 3 AS DOUBLE)
                 / CAST(n_wedges AS DOUBLE)
            ELSE 0.0 END AS global_clustering
FROM base CROSS JOIN ec CROSS JOIN tri
""",
    doc="Triangle census of the verified near-dup graph (nodes, edges, "
        "wedges, triangles, global clustering coefficient) — ordered "
        "two-join triangle enumeration, each triangle counted once; "
        "distinguishes copy-farm cliques from borderline-match chains.",
)


# ---------------------------------------------------------------------------
# Benford leading-digit audit: the classic anomaly screen for amount
# columns (synthetic or fabricated figures flunk it). The expected
# fractions log10(1 + 1/d) are computed ONCE in Python and embedded as
# identical double literals in both engines, so no cross-engine log()
# is ever evaluated; the leading digit comes from the integer part's
# decimal string, which is exact in both engines (never from a
# double's string repr, which is not portable).
# ---------------------------------------------------------------------------

def _benford_rows() -> list[tuple[int, float]]:
    import math
    return [(d, math.log10(1 + 1 / d)) for d in range(1, 10)]


def _benford_audit(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") >= 1)
    counts = (o.select(F.substring(
                  F.floor("o_totalprice").cast("long").cast("string"),
                  1, 1).cast("int").alias("digit"))
               .groupBy("digit")
               .agg(F.count(F.lit(1)).alias("n")))
    total = counts.agg(F.sum("n").alias("n_total"))
    bf = spark.createDataFrame(_benford_rows(),
                               "digit int, benford_frac double")
    # Broadcast the aggregated side: counts is ≤9 rows after the groupBy,
    # and a left-outer join can only build its RIGHT side (broadcasting
    # the preserved side is unsupported — the hint would be dropped).
    return (bf.join(F.broadcast(counts), "digit", "left")
            .crossJoin(F.broadcast(total))
            .select("digit",
                    F.coalesce("n", F.lit(0)).alias("n"),
                    (F.coalesce("n", F.lit(0)) / F.col("n_total"))
                     .alias("obs_frac"),
                    "benford_frac",
                    F.abs(F.coalesce("n", F.lit(0)) / F.col("n_total")
                          - F.col("benford_frac")).alias("abs_dev"))
            .transform(_sorted1, "digit"))


def _benford_oracle() -> str:
    vals = ", ".join(f"({d}, {p!r})" for d, p in _benford_rows())
    return f"""
WITH c AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INT) AS digit,
         COUNT(*) AS n
  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c),
bf AS (SELECT digit, CAST(benford_frac AS DOUBLE) AS benford_frac
       FROM (VALUES {vals}) v(digit, benford_frac))
SELECT bf.digit,
       COALESCE(c.n, 0) AS n,
       COALESCE(c.n, 0) / n_total AS obs_frac,
       bf.benford_frac,
       abs(COALESCE(c.n, 0) / n_total - bf.benford_frac) AS abs_dev
FROM bf LEFT JOIN c ON c.digit = bf.digit CROSS JOIN t
ORDER BY bf.digit
"""


register(
    "benford_digit_audit",
    _benford_audit,
    _benford_oracle(),
    doc="Benford leading-digit screen over order totals: observed vs "
        "expected log10(1+1/d) fractions and absolute deviation per "
        "digit — expectations embedded as identical literals in both "
        "engines, leading digit from the integer part's decimal string.",
)


# ---------------------------------------------------------------------------
# BPE compression curve: corpus symbol count after each merge round —
# the vocab-size ablation artifact (the curve's knee is where merges
# stop paying). All rounds computed in one pass over the distinct-word
# table; corpus touched once.
# ---------------------------------------------------------------------------

def _bpe_curve(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.bpe import bpe_compression_curve
    return bpe_compression_curve(_t(spark, sf, "documents"), n_merges=6)


def _bpe_curve_oracle() -> str:
    from .operators.bpe import duck_bpe_curve_sql
    return duck_bpe_curve_sql(6)


register(
    "bpe_compression_curve",
    _bpe_curve,
    _bpe_curve_oracle(),
    doc="Total corpus symbols after each BPE merge round (0 = raw "
        "chars): the vocab-size ablation curve, every round a weighted "
        "sum over the distinct-word table in one pass.",
)


# ---------------------------------------------------------------------------
# Near-dup survivor policy: keep the HIGHEST-QUALITY doc per cluster
# (ties → min id) — the curation alternative to keep-min-id when dup
# clusters mix clean and boilerplate-ridden copies. Same closure, one
# quality join, one per-cluster argmax window.
# ---------------------------------------------------------------------------

def _neardup_best_quality(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    from .operators.graph import cluster_assignment
    from .operators.text import quality_expr
    docs = _t(spark, sf, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.2)
    assigned = (cluster_assignment(docs, pairs)
                .select("doc_id", "cluster_id"))
    q = docs.select("doc_id", quality_expr(F.col("text")).alias("quality"))
    w = Window.partitionBy("cluster_id")
    ranked = (assigned.join(q, "doc_id")
              .withColumn("cluster_size",
                          F.count(F.lit(1)).over(w))
              .withColumn("rn", F.row_number().over(
                  w.orderBy(F.desc("quality"), F.asc("doc_id")))))
    return (ranked.filter(F.col("rn") == 1)
            .select("doc_id", "cluster_id", "quality", "cluster_size")
            .orderBy("doc_id"))


register(
    "neardup_keep_best_quality",
    _neardup_best_quality,
    f"""{_NEARDUP_CLOSURE_SQL},
q AS (SELECT doc_id,
             (0.4 * least(len(tk) / 50.0, 1.0)
              + 0.4 * (len(list_distinct(tk)) / len(tk))
              + 0.2 * (len(list_filter(tk, x -> x IN ({_STOP_SQL})))
                       / len(tk))) AS quality
      FROM toks),
r AS (SELECT a.doc_id, a.cluster_id, q.quality,
             ROW_NUMBER() OVER (PARTITION BY a.cluster_id
                                ORDER BY q.quality DESC, a.doc_id ASC)
               AS rn,
             CAST(COUNT(*) OVER (PARTITION BY a.cluster_id) AS BIGINT)
               AS cluster_size
      FROM assigned a JOIN q USING (doc_id))
SELECT doc_id, cluster_id, quality, cluster_size
FROM r WHERE rn = 1 ORDER BY doc_id
""",
    doc="Quality-keep near-dup survivor policy: per-cluster argmax of "
        "the composite quality score (ties to min id) instead of "
        "keep-min-id — same closure, one broadcast-sized keeper table.",
)


# ---------------------------------------------------------------------------
# Fixed-point PageRank over the verified near-dup graph: the centrality
# signal that picks a component's "canonical" document (the node most
# duplicates point at). Both engines run the SAME integer micro-unit
# recurrence (BIGINT, integer div), so five iterations are bit-identical
# under any partitioning — float PageRank could never hash-match across
# engines (non-associative sums). See operators/graph.py:pagerank_fixed_point.
# ---------------------------------------------------------------------------

def _pagerank_neardup(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.graph import pagerank_fixed_point
    pairs = minhash_dedup_pairs(_t(spark, sf, "documents"), threshold=0.2)
    return _sorted1(pagerank_fixed_point(pairs, n_rounds=5)
                    .withColumnRenamed("node", "doc_id"), "doc_id")


def _pagerank_oracle(n_rounds: int = 5, scale: int = 10 ** 12,
                     damping_pct: int = 85) -> str:
    # Reuses the shared LSH→verify chain's `edges` CTE (both directions),
    # then unrolls the rounds like duck_bpe_ctes does — DuckDB evaluates
    # only the CTEs the final SELECT reaches, so the closure's unused
    # recursive `reach` costs nothing.
    tele_pct = 100 - damping_pct
    ctes = [f"""deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
       FROM edges GROUP BY u)""",
            f"""nn AS (SELECT ({scale} // COUNT(*)) AS init,
              ((({scale} // COUNT(*)) * {tele_pct}) // 100) AS tele
       FROM deg)""",
            """r0 AS (SELECT node, deg, init AS r FROM deg CROSS JOIN nn)"""]
    for k in range(n_rounds):
        ctes.append(f"""r{k + 1} AS (
  SELECT d.node, d.deg,
         nn.tele + ({damping_pct} * COALESCE(i.s, 0)) // 100 AS r
  FROM deg d CROSS JOIN nn
  LEFT JOIN (SELECT e.v AS node,
                    CAST(SUM(p.r // p.deg) AS BIGINT) AS s
             FROM edges e JOIN r{k} p ON p.node = e.u
             GROUP BY e.v) i ON i.node = d.node)""")
    return (",\n".join(ctes) + f"""
SELECT node AS doc_id, deg, r AS pr_units,
       CAST(r AS DOUBLE) / {float(scale)} AS pagerank
FROM r{n_rounds} ORDER BY doc_id""")


register(
    "pagerank_neardup",
    _pagerank_neardup,
    f"""{_NEARDUP_CLOSURE_SQL},
{_pagerank_oracle(5)}
""",
    doc="Fixed-point integer PageRank (5 rounds, d=0.85, 1e12 micro-"
        "units) over the verified near-dup graph — exact BIGINT "
        "arithmetic makes the iterative dataflow hash-identical across "
        "engines and partitionings.",
)


# ---------------------------------------------------------------------------
# Hypertable-style gap-fill + LOCF: per-user daily grid over the corpus
# span, each day carrying the user's last observed closing value forward
# (classic time-series rollup Spark lacks as a built-in — composed from
# sequence/explode + a bounded per-key window, never a driver loop).
# ---------------------------------------------------------------------------

def _events_gapfill_locf(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.windows import gapfill_locf
    return (gapfill_locf(_t(spark, sf, "events"))
            .transform(_sorted1, "user_id", "d"))


register(
    "events_gapfill_locf",
    _events_gapfill_locf,
    """
WITH e AS (SELECT ts::TIMESTAMP AS ts, event_id, user_id, value
           FROM events),
span AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
         FROM e),
days AS (SELECT CAST(unnest(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                            INTERVAL 1 DAY)) AS DATE) AS d
         FROM span),
users AS (SELECT DISTINCT user_id FROM e),
grid AS (SELECT user_id, d FROM users CROSS JOIN days),
ranked AS (SELECT user_id, CAST(ts AS DATE) AS d, value,
                  ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM e),
daily AS (SELECT user_id, d, value AS close_value FROM ranked WHERE rn = 1)
SELECT g.user_id, g.d,
       dl.close_value IS NOT NULL AS observed,
       LAST_VALUE(dl.close_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM grid g LEFT JOIN daily dl ON dl.user_id = g.user_id AND dl.d = g.d
ORDER BY g.user_id, g.d
""",
    doc="Hypertable-style daily gap-fill with last-observation-carried-"
        "forward per user — grid = users × corpus day span, LOCF via a "
        "bounded per-key window; days before a user's first event stay "
        "NULL (honest LOCF).",
)


# ---------------------------------------------------------------------------
# Systematic weight-proportional sampling: lay every document on a line
# segment of length = its n_chars (in doc_id order) and take one tick
# every `total/_SYS_N` characters — inclusion probability exactly
# proportional to weight, zero randomness, integer-only arithmetic
# (the ln()-based A-ES/A-ExpJ weighted reservoirs need floats; this is
# the engine-portable deterministic alternative). A doc longer than the
# step crosses several ticks: multiplicity is reported, not silently
# capped.
#
# Scale shape: the global cumulative sum does NOT use a single-task
# global window — doc_ids are blocked (div 1024), the within-block
# cumsum is a window partitioned by block, the block offsets are a
# prefix over the (tiny) block-sums table broadcast back. Same two-pass
# design as add_row_id, but key-derived (no repartitionByRange sampling,
# so no persist pin needed). The corpus total is the documented 1-row
# broadcast.
# ---------------------------------------------------------------------------

_SYS_N = 100          # target tick count
_SYS_BLOCK = 1024     # doc_id block width for the two-pass cumsum


def _systematic_sample(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    d = _t(spark, sf, "documents").select(
        "doc_id", "source", "n_chars",
        F.floor(F.col("doc_id") / _SYS_BLOCK).alias("_blk"))
    win = (Window.partitionBy("_blk").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    within = d.withColumn("_cum_in", F.sum("n_chars").over(win))
    bsums = d.groupBy("_blk").agg(F.sum("n_chars").alias("_bsum"))
    owin = (Window.orderBy("_blk")
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = bsums.select(
        "_blk", F.coalesce(F.sum("_bsum").over(owin), F.lit(0)).alias("_off"))
    total = d.agg(F.sum("n_chars").cast("long").alias("_total"))
    # True integer division (div) end-to-end, matching the oracle's `//`:
    # double-division + floor is only integer-exact below ~2^53, which
    # would make engine parity scale-dependent instead of by-construction.
    return (within
            .join(F.broadcast(offsets), "_blk")
            .crossJoin(F.broadcast(total))
            .withColumn("cum_chars",
                        (F.col("_off") + F.col("_cum_in")).cast("long"))
            .withColumn("_step", F.expr(f"_total div {_SYS_N}"))
            .withColumn("n_ticks",
                        F.expr("cum_chars div _step"
                               " - (cum_chars - n_chars) div _step")
                         .cast("int"))
            .select("doc_id", "source", "n_chars", "cum_chars", "n_ticks")
            .where(F.col("n_ticks") >= 1)
            .transform(_sorted1, "doc_id"))


register(
    "systematic_weighted_sample",
    _systematic_sample,
    f"""
WITH c AS (
  SELECT doc_id, source, n_chars,
         CAST(SUM(n_chars) OVER (ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM documents),
t AS (SELECT CAST(SUM(n_chars) AS BIGINT) // {_SYS_N} AS step
      FROM documents)
SELECT doc_id, source, n_chars, cum AS cum_chars,
       CAST(cum // step - (cum - n_chars) // step AS INT) AS n_ticks
FROM c, t
WHERE cum // step - (cum - n_chars) // step >= 1
ORDER BY doc_id
""",
    doc="Deterministic systematic sampling proportional to n_chars: one "
        "tick per total/100 characters along the doc_id-ordered line; "
        "blocked two-pass cumsum, no global single-task window.",
)


# ---------------------------------------------------------------------------
# BPE round-trip audit: the tokenizer-integrity invariant — decoding
# every word's learned symbol sequence (concatenate, drop separators)
# must reproduce the word exactly, for EVERY distinct word in the
# corpus. One vocab-sized check behind the same single corpus explode
# the encode side uses; the result is a 1-row datasheet the release
# pipeline can gate on. A lossy merge chain (the classic detokenization
# bug class) flips all_ok to false and the oracle hash with it.
# ---------------------------------------------------------------------------

def _bpe_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.bpe import _apply_merge, bpe_learn
    from .operators.text import tokens
    docs = _t(spark, sf, "documents")
    merges = bpe_learn(docs, n_merges=_BPE_MERGES).collect()
    words = (docs.select(F.explode(tokens(F.col("text"))).alias("w"))
                 .filter(F.col("w") != "").distinct())
    sym = "array_join(regexp_extract_all(w, '.', 0), ' ')"
    for m in merges:
        sym = _apply_merge(sym, m["p1"], m["p2"])
    ok = F.expr(f"replace({sym}, ' ', '') = w")
    return (words.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(ok.cast("long")).alias("n_roundtrip_ok"))
        .select("n_words", "n_roundtrip_ok",
                (F.col("n_words") == F.col("n_roundtrip_ok"))
                .alias("all_ok")))


def _bpe_roundtrip_oracle() -> str:
    from .operators.bpe import duck_bpe_ctes
    ctes, final = duck_bpe_ctes(_BPE_MERGES, _DUCK_TOKENS)
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT COUNT(*) AS n_words,
       CAST(SUM(CASE WHEN replace(s, ' ', '') = w THEN 1 ELSE 0 END)
            AS BIGINT) AS n_roundtrip_ok,
       COUNT(*) = CAST(SUM(CASE WHEN replace(s, ' ', '') = w
                           THEN 1 ELSE 0 END) AS BIGINT) AS all_ok
FROM {final}
""")


register(
    "bpe_roundtrip_audit",
    _bpe_roundtrip,
    _bpe_roundtrip_oracle(),
    doc="Tokenizer integrity: decode(encode(w)) == w for every distinct "
        "corpus word — 1-row release gate over the vocab-sized symbol "
        "table.",
)


# ---------------------------------------------------------------------------
# Market-basket association rules over event types (A-Priori at k=2):
# support / confidence / lift for every co-occurring pair of event
# types across users. Counts are exact integers; each metric is ONE
# final double division over integer operands (lift's numerator and
# denominator are pre-multiplied in BIGINT so there is exactly one
# float op, not a quotient of quotients). Scale shape: the self-join is
# per-user and bounded by the event-type cardinality (constant), the
# pair agg is combinable, and the per-type counts arrive by broadcast —
# the classic frequent-itemset shape where the shuffle key space is
# |types|², not |events|.
# ---------------------------------------------------------------------------

def _event_rules(spark: SparkSession, sf: str) -> DataFrame:
    ev = (_t(spark, sf, "events")
          .select("user_id", "event_type").distinct())
    users = ev.agg(F.count_distinct("user_id").alias("n_users"))
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type"))
    a = ev.select("user_id", F.col("event_type").alias("type_a"))
    b = ev.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (a.join(b, "user_id")
              .where(F.col("type_a") < F.col("type_b"))
              .groupBy("type_a", "type_b")
              .agg(F.count(F.lit(1)).alias("n_both")))
    na = per_type.select(F.col("event_type").alias("type_a"),
                         F.col("n_type").alias("n_a"))
    nb = per_type.select(F.col("event_type").alias("type_b"),
                         F.col("n_type").alias("n_b"))
    return (pairs.join(F.broadcast(na), "type_a")
                 .join(F.broadcast(nb), "type_b")
                 .crossJoin(F.broadcast(users))
                 .select("type_a", "type_b", "n_both", "n_a", "n_b",
                         "n_users",
                         (F.col("n_both").cast("double")
                          / F.col("n_users").cast("double"))
                         .alias("support"),
                         (F.col("n_both").cast("double")
                          / F.col("n_a").cast("double"))
                         .alias("confidence_a_to_b"),
                         ((F.col("n_both") * F.col("n_users"))
                          .cast("double")
                          / (F.col("n_a") * F.col("n_b")).cast("double"))
                         .alias("lift"))
                 .transform(_sorted1, "type_a", "type_b"))


register(
    "event_cooccurrence_rules",
    _event_rules,
    """
WITH ev AS (SELECT DISTINCT user_id, event_type FROM events),
u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ev),
t AS (SELECT event_type, COUNT(*) AS n_type FROM ev GROUP BY event_type),
p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM ev a JOIN ev b ON a.user_id = b.user_id
      WHERE a.event_type < b.event_type
      GROUP BY 1, 2)
SELECT p.type_a, p.type_b, p.n_both,
       ta.n_type AS n_a, tb.n_type AS n_b, u.n_users,
       CAST(p.n_both AS DOUBLE) / CAST(u.n_users AS DOUBLE) AS support,
       CAST(p.n_both AS DOUBLE) / CAST(ta.n_type AS DOUBLE)
         AS confidence_a_to_b,
       CAST(p.n_both * u.n_users AS DOUBLE)
         / CAST(ta.n_type * tb.n_type AS DOUBLE) AS lift
FROM p JOIN t ta ON ta.event_type = p.type_a
       JOIN t tb ON tb.event_type = p.type_b, u
ORDER BY type_a, type_b
""",
    doc="Association rules (A-Priori k=2) over per-user event-type "
        "baskets: exact co-occurrence counts with support, confidence, "
        "and lift as single double divisions.",
)


# ---------------------------------------------------------------------------
# Robust statistics per group: Pearson correlation from exact sufficient
# statistics (same machinery as the OLS trend: integer/decimal sums,
# sqrt/divide only at the very end), and a winsorized mean — values
# clipped at the group's exact [p5, p95] before a DECIMAL re-accumulate,
# the standard heavy-tail guard for metric pipelines.
# ---------------------------------------------------------------------------

def _discount_price_corr(spark: SparkSession, sf: str) -> DataFrame:
    # fanout: six decimal-product partial sums over 600k rows would
    # otherwise run in the single-task local scan stage
    li = fanout(_t(spark, sf, "lineitem"))
    x = (F.col("l_discount").cast("decimal(18,2)") * 100).cast("long")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = (li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(x).alias("_sx"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y).cast("decimal(38,2)").alias("_sy"),
        F.sum(y * y).cast("decimal(38,4)").alias("_syy"),
        F.sum(x * y).cast("decimal(38,2)").alias("_sxy")))
    n = F.col("n_rows").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sy = F.col("_sy").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    r = ((n * sxy - sx * sy)
         / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
    return (agg.select("l_returnflag", "n_rows", r.alias("pearson_r"))
               .transform(_sorted1, "l_returnflag"))


register(
    "discount_price_corr",
    _discount_price_corr,
    """
WITH s AS (
  SELECT l_returnflag, COUNT(*) AS n_rows,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
         CAST(SUM(y * y) AS DECIMAL(38,4)) AS syy,
         CAST(SUM(x * y) AS DECIMAL(38,2)) AS sxy
  FROM (SELECT l_returnflag,
               CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        FROM lineitem)
  GROUP BY l_returnflag)
SELECT l_returnflag, n_rows,
       (CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / sqrt((CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS pearson_r
FROM s ORDER BY l_returnflag
""",
    doc="Per-returnflag Pearson correlation of discount vs extended "
        "price from six exact sufficient statistics; sqrt/divide only "
        "in the final scalar.",
)


def _winsorized_mean(spark: SparkSession, sf: str) -> DataFrame:
    # fanout: the exact-percentile partial buffers over the whole
    # orders table would otherwise build in the single-task scan stage
    o = fanout(_t(spark, sf, "orders"))
    pct = (o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("p5"),
        F.expr("percentile(o_totalprice, 0.95)").alias("p95")))
    clipped = (o.join(F.broadcast(pct), "o_orderstatus")
                .select("o_orderstatus",
                        F.least(F.greatest(F.col("o_totalprice"),
                                           F.col("p5")), F.col("p95"))
                        .cast("decimal(18,2)").alias("w")))
    return (clipped.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 # exact decimal accumulation, DOUBLE publication — no
                 # DECIMAL in published schemas (r06 canary evidence:
                 # the driver harness hash-diverges on decimal output
                 # at every width)
                 F.sum("w").cast("double").alias("w_total"))
            .select("o_orderstatus", "n_orders", "w_total",
                    (F.col("w_total")
                     / F.col("n_orders").cast("double"))
                    .alias("winsorized_mean"))
            .transform(_sorted1, "o_orderstatus"))


register(
    "winsorized_mean_by_status",
    _winsorized_mean,
    """
WITH pct AS (
  SELECT o_orderstatus,
         quantile_cont(o_totalprice, 0.05) AS p5,
         quantile_cont(o_totalprice, 0.95) AS p95
  FROM orders GROUP BY o_orderstatus),
c AS (SELECT o.o_orderstatus,
             CAST(least(greatest(o.o_totalprice, p.p5), p.p95)
                  AS DECIMAL(18,2)) AS w
      FROM orders o JOIN pct p USING (o_orderstatus))
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(w) AS DOUBLE) AS w_total,
       CAST(SUM(w) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS winsorized_mean
FROM c GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    doc="Winsorized mean per status: values clipped at the group's "
        "exact [p5, p95], then exact DECIMAL re-accumulation — the "
        "heavy-tail-robust location estimate.",
)


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier: the documents no other document dominates
# (strictly better on one of {quality ↑, token cost ↓}, at least as
# good on the other) — the multi-objective selection primitive behind
# "best docs per budget" curation. A document is dominated iff the max
# quality over strictly-cheaper docs already reaches its quality, or a
# same-cost doc strictly beats it — and both tests only need the
# PER-n_tokens max quality, so the global window runs over the
# distinct-lengths aggregate (frame ≤ max tokens per document — a
# document-shape constant, corpus-independent), never over doc rows;
# the per-length bests then broadcast back onto the corpus. The oracle
# states dominance directly (NOT EXISTS) — O(n²) is fine for DuckDB at
# sf0.01. pareto_frontier_two_pass below is the alternative
# merge-closure gear (pytest-pinned equivalent).
# ---------------------------------------------------------------------------

def _pareto_frontier(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    from .operators.text import BPE_ISH_PATTERN, quality_expr
    d = (fanout(_t(spark, sf, "documents"))
         # fanout: the regexp_count + quality_expr projection is the
         # expensive stage and otherwise runs in the single-task local
         # scan (no-op on real multi-split inputs)
         .select(
             "doc_id",
             quality_expr(F.col("text")).alias("quality"),
             F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
              .cast("long").alias("n_tokens")))
    per_len = d.groupBy("n_tokens").agg(
        F.max("quality").alias("_best_same"))
    # one row per distinct length → rows-frame ≡ range-frame here
    w_lt = (Window.orderBy("n_tokens")
            .rowsBetween(Window.unboundedPreceding, -1))
    bests = per_len.withColumn("_best_cheaper",
                               F.max("_best_same").over(w_lt))
    frontier = (d.join(F.broadcast(bests), "n_tokens")
                 .where((F.col("_best_cheaper").isNull()
                         | (F.col("_best_cheaper") < F.col("quality")))
                        & (F.col("quality") == F.col("_best_same"))))
    return (frontier.select("doc_id", "quality", "n_tokens")
                    .transform(_sorted1, "doc_id"))


register(
    "pareto_frontier_docs",
    _pareto_frontier,
    f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk, text FROM documents),
s AS (SELECT doc_id,
  (0.4 * least(len(tk) / 50.0, 1.0)
             + 0.4 * (len(list_distinct(tk)) / len(tk))
             + 0.2 * (len(list_filter(tk, x -> x IN ({_STOP_SQL}))) / len(tk)))
    AS quality,
  CAST(len(regexp_extract_all(text,
      '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]'))
    AS BIGINT) AS n_tokens
  FROM t)
SELECT doc_id, quality, n_tokens
FROM s a
WHERE NOT EXISTS (
  SELECT 1 FROM s b
  WHERE b.quality >= a.quality AND b.n_tokens <= a.n_tokens
    AND (b.quality > a.quality OR b.n_tokens < a.n_tokens))
ORDER BY doc_id
""",
    doc="Pareto frontier over (quality ↑, token cost ↓): window "
        "formulation vs the oracle's direct NOT-EXISTS dominance test.",
)


def pareto_frontier_two_pass(d: DataFrame, n_blocks: int = 32) -> DataFrame:
    """The 100 TB gear for :func:`_pareto_frontier`: the frontier is
    merge-closed (global frontier ⊆ union of block-local frontiers), so
    pass 1 computes a local frontier per hash-block of the input — the
    global window runs only PER BLOCK — and pass 2 re-runs the same
    dominance filter over the union of survivors, which is frontier-
    sized, not corpus-sized. No single task ever sees the full corpus.
    Input: (doc_id, quality, n_tokens). Equivalence to the one-window
    form is pytest-pinned.
    """
    from pyspark.sql import Window

    def _frontier(df: DataFrame, part_cols: list[str]) -> DataFrame:
        w_lt = (Window.partitionBy(*part_cols).orderBy("n_tokens")
                .rangeBetween(Window.unboundedPreceding, -1)
                if part_cols else
                Window.orderBy("n_tokens")
                .rangeBetween(Window.unboundedPreceding, -1))
        w_eq = Window.partitionBy(*(part_cols + ["n_tokens"]))
        scored = df.select(
            "doc_id", "quality", "n_tokens",
            F.max("quality").over(w_lt).alias("_bc"),
            F.max("quality").over(w_eq).alias("_bs"))
        return (scored.where(
            (F.col("_bc").isNull() | (F.col("_bc") < F.col("quality")))
            & (F.col("quality") == F.col("_bs")))
            .select("doc_id", "quality", "n_tokens"))

    blocked = d.withColumn(
        "_blk", F.pmod(F.hash(F.col("doc_id")), F.lit(n_blocks)))
    local = _frontier(blocked, ["_blk"])
    return _frontier(local, [])


# ---------------------------------------------------------------------------
# Distribution drift between two periods (population-stability check):
# chi-square distance over 10 fixed integer bins of order value,
# early-half vs late-half of the order history. PSI's ln() is a
# cross-engine hazard, so the chi-square form is used: all bin counts
# are exact integers; the per-bin contributions are single double ops;
# and the final Σ over ≤10 bins is an ORDER-PINNED fold (sorted list →
# sequential aggregate), the repo's standard pattern for summing a
# handful of doubles deterministically. Scale: two grouped counts and a
# 10-row fold — one fact scan, constant-size reduce.
# ---------------------------------------------------------------------------

_DRIFT_BINS = 10


def _order_value_drift(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"),
        F.col("o_orderdate").cast("date").alias("d"))
    rng = o.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"),
                F.min("d").alias("d0"), F.max("d").alias("d1"))
    binned = (o.crossJoin(F.broadcast(rng))
              .select(F.expr(f"((cents - lo) * {_DRIFT_BINS}) "
                             "div (hi - lo + 1)").alias("bin"),
                      (F.datediff("d", "d0") * 2
                       <= F.datediff("d1", "d0")).alias("early")))
    counts = (binned.groupBy("bin").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("early"), 1).otherwise(0)).alias("n_b")))
    tot = counts.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    contrib = (counts.crossJoin(F.broadcast(tot))
               .select("bin", "n_a", "n_b",
                       ((F.col("n_a").cast("double")
                         / F.col("ta").cast("double")
                         - F.col("n_b").cast("double")
                         / F.col("tb").cast("double"))
                        * (F.col("n_a").cast("double")
                           / F.col("ta").cast("double")
                           - F.col("n_b").cast("double")
                           / F.col("tb").cast("double"))
                        / (F.col("n_a").cast("double")
                           / F.col("ta").cast("double")
                           + F.col("n_b").cast("double")
                           / F.col("tb").cast("double")))
                       .alias("c")))
    return (contrib.agg(
        F.sum("n_a").cast("bigint").alias("n_early"),
        F.sum("n_b").cast("bigint").alias("n_late"),
        F.expr("aggregate(array_sort(collect_list(struct(bin, c))), "
               "cast(0.0 as double), (acc, x) -> acc + x.c)")
        .alias("chi2_distance")))


register(
    "order_value_drift",
    _order_value_drift,
    f"""
WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS cents,
                  CAST(o_orderdate AS DATE) AS d
           FROM orders),
rng AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi,
               MIN(d) AS d0, MAX(d) AS d1 FROM c),
b AS (SELECT ((cents - lo) * {_DRIFT_BINS}) // (hi - lo + 1) AS bin,
             datediff('day', d0, d) * 2 <= datediff('day', d0, d1) AS early
      FROM c, rng),
cnt AS (SELECT bin,
               CAST(SUM(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_b
        FROM b GROUP BY bin),
tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
               CAST(SUM(n_b) AS BIGINT) AS tb FROM cnt),
ctr AS (SELECT bin, n_a, n_b,
               (CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
                  - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))
               * (CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
                  - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))
               / (CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
                  + CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)) AS c
        FROM cnt, tot)
SELECT CAST(SUM(n_a) AS BIGINT) AS n_early,
       CAST(SUM(n_b) AS BIGINT) AS n_late,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                list(c ORDER BY bin)),
                   (acc, x) -> acc + x) AS chi2_distance
FROM ctr
""",
    doc="Order-value distribution drift (early vs late half): chi-square "
        "distance over 10 integer bins, summed by an order-pinned fold.",
)


# ---------------------------------------------------------------------------
# Cramér's V between lang and source: categorical-association strength
# from the exact contingency table. Chi-square over ≤ |langs|·|sources|
# cells (expected counts from the exact margins — one double division
# per cell), summed with the order-pinned fold; V = sqrt(χ²/(n·(k−1)))
# as the final scalar. The ln-free cousin of mutual information, same
# reason as the drift screen.
# ---------------------------------------------------------------------------

def _cramers_v(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_ls"))
    rows = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    cols = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot = d.agg(F.count(F.lit(1)).alias("n"),
                F.count_distinct("lang").alias("kl"),
                F.count_distinct("source").alias("ks"))
    contrib = (cells.join(F.broadcast(rows), "lang")
                    .join(F.broadcast(cols), "source")
                    .crossJoin(F.broadcast(tot))
                    .select(
        "lang", "source",
        ((F.col("n_ls").cast("double")
          - F.col("n_l").cast("double") * F.col("n_s").cast("double")
            / F.col("n").cast("double"))
         * (F.col("n_ls").cast("double")
            - F.col("n_l").cast("double") * F.col("n_s").cast("double")
              / F.col("n").cast("double"))
         / (F.col("n_l").cast("double") * F.col("n_s").cast("double")
            / F.col("n").cast("double"))).alias("c"),
        "n", "kl", "ks"))
    return (contrib.groupBy("n", "kl", "ks")
            .agg(F.expr(
                "aggregate(array_sort(collect_list(struct(lang, source, c))), "
                "cast(0.0 as double), (acc, x) -> acc + x.c)")
                .alias("chi2"))
            .select(F.col("n").alias("n_docs"),
                    F.col("kl").cast("int").alias("n_langs"),
                    F.col("ks").cast("int").alias("n_sources"),
                    "chi2",
                    F.sqrt(F.col("chi2")
                           / (F.col("n").cast("double")
                              * (F.least("kl", "ks").cast("double") - 1)))
                    .alias("cramers_v")))


register(
    "cramers_v_lang_source",
    _cramers_v,
    """
WITH cells AS (SELECT lang, source, COUNT(*) AS n_ls
               FROM documents GROUP BY lang, source),
r AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
s AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
t AS (SELECT COUNT(*) AS n, COUNT(DISTINCT lang) AS kl,
             COUNT(DISTINCT source) AS ks FROM documents),
ctr AS (SELECT c.lang, c.source,
               (CAST(c.n_ls AS DOUBLE)
                  - CAST(r.n_l AS DOUBLE) * CAST(s.n_s AS DOUBLE)
                    / CAST(t.n AS DOUBLE))
               * (CAST(c.n_ls AS DOUBLE)
                  - CAST(r.n_l AS DOUBLE) * CAST(s.n_s AS DOUBLE)
                    / CAST(t.n AS DOUBLE))
               / (CAST(r.n_l AS DOUBLE) * CAST(s.n_s AS DOUBLE)
                  / CAST(t.n AS DOUBLE)) AS c,
               t.n, t.kl, t.ks
        FROM cells c JOIN r USING (lang) JOIN s USING (source), t)
SELECT n AS n_docs, CAST(kl AS INT) AS n_langs, CAST(ks AS INT) AS n_sources,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                list(c ORDER BY lang, source)),
                   (acc, x) -> acc + x) AS chi2,
       sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                     list(c ORDER BY lang, source)),
                        (acc, x) -> acc + x)
            / (CAST(n AS DOUBLE) * (CAST(least(kl, ks) AS DOUBLE) - 1)))
         AS cramers_v
FROM ctr GROUP BY n, kl, ks
""",
    doc="Cramér's V association between lang and source from the exact "
        "contingency table; χ² summed by an order-pinned fold.",
)


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences: counts of
# (event_type → next event_type) under the explicit (ts, event_id)
# ordering, row-normalized to transition probabilities. One window
# (lead) partitioned by user — the fact shuffles once on user_id — and
# one combinable pair count; the probability is a single division by
# the broadcast row margin.
# ---------------------------------------------------------------------------

def _event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select("user_id", F.col("event_type").alias("from_type"),
                       F.lead("event_type").over(w).alias("to_type"))
               .where(F.col("to_type").isNotNull())
               .groupBy("from_type", "to_type")
               .agg(F.count(F.lit(1)).alias("n_trans")))
    margin = pairs.groupBy("from_type").agg(
        F.sum("n_trans").alias("n_from"))
    return (pairs.join(F.broadcast(margin), "from_type")
            .select("from_type", "to_type", "n_trans",
                    F.col("n_from").cast("bigint").alias("n_from"),
                    (F.col("n_trans").cast("double")
                     / F.col("n_from").cast("double")).alias("p_trans"))
            .transform(_sorted1, "from_type", "to_type"))


register(
    "event_transition_matrix",
    _event_transitions,
    """
WITH seq AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
p AS (SELECT from_type, to_type, COUNT(*) AS n_trans
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
m AS (SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
      FROM p GROUP BY from_type)
SELECT p.from_type, p.to_type, p.n_trans, m.n_from,
       CAST(p.n_trans AS DOUBLE) / CAST(m.n_from AS DOUBLE) AS p_trans
FROM p JOIN m USING (from_type)
ORDER BY from_type, to_type
""",
    doc="First-order Markov transition matrix over per-user event "
        "sequences (explicit (ts, event_id) ordering), row-normalized.",
)


# ---------------------------------------------------------------------------
# Survival analysis: Kaplan–Meier estimate of "still unconverted" at
# fixed horizons, over per-user time from first event to first
# purchase, right-censored at corpus end for users who never convert.
# The KM product Π (1 − dₜ/nₜ) runs as an order-pinned fold over the
# day-grained event-time table (≤ observation-window days long —
# bounded state, so the fold is constant-size however big the corpus);
# everything upstream is one groupBy(user) + one tiny desc-cumsum.
# ln-free by construction (the hazard factors multiply directly).
# ---------------------------------------------------------------------------

_KM_HORIZONS = (1, 7, 14)


def _survival_km(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    ev = _t(spark, sf, "events")
    end = ev.agg(F.max("ts").alias("t_end"))
    per_user = (ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
         .alias("tp")))
    dur = (per_user.crossJoin(F.broadcast(end))
           .select(F.when(F.col("tp").isNotNull(),
                          F.datediff(F.col("tp").cast("date"),
                                     F.col("t0").cast("date")))
                    .otherwise(F.datediff(F.col("t_end").cast("date"),
                                          F.col("t0").cast("date")))
                    .cast("long").alias("dur"),
                   F.col("tp").isNotNull().alias("converted")))
    counts = dur.groupBy("dur").agg(
        F.sum(F.when(F.col("converted"), 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("n_at"))
    w = (Window.orderBy(F.desc("dur"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    factors = (counts.withColumn("n_risk", F.sum("n_at").over(w))
               .where(F.col("d") > 0)
               .select("dur",
                       (F.lit(1.0) - F.col("d").cast("double")
                        / F.col("n_risk").cast("double")).alias("f")))
    surv = [F.expr(
        "aggregate(array_sort(collect_list(struct(dur, f))), "
        f"cast(1.0 as double), (acc, x) -> "
        f"case when x.dur <= {h} then acc * x.f else acc end)")
        .alias(f"s_unconverted_d{h}") for h in _KM_HORIZONS]
    totals = dur.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0))
         .cast("bigint").alias("n_converted"))
    return factors.agg(*surv).crossJoin(F.broadcast(totals)).select(
        "n_users", "n_converted",
        *[f"s_unconverted_d{h}" for h in _KM_HORIZONS])


register(
    "survival_time_to_purchase",
    _survival_km,
    f"""
WITH e AS (SELECT user_id, ts, event_type FROM events),
endt AS (SELECT MAX(ts) AS t_end FROM e),
pu AS (SELECT user_id, MIN(ts) AS t0,
              MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
       FROM e GROUP BY user_id),
dur AS (SELECT CASE WHEN tp IS NOT NULL
                    THEN datediff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                    ELSE datediff('day', CAST(t0 AS DATE),
                                  CAST(t_end AS DATE)) END AS dur,
               tp IS NOT NULL AS converted
        FROM pu, endt),
cnt AS (SELECT dur, CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END)
                         AS BIGINT) AS d,
               COUNT(*) AS n_at
        FROM dur GROUP BY dur),
fct AS (SELECT dur,
               1.0 - CAST(d AS DOUBLE) / CAST(
                 SUM(n_at) OVER (ORDER BY dur DESC
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS f
        FROM cnt QUALIFY d > 0),
tot AS (SELECT COUNT(*) AS n_users,
               CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_converted
        FROM dur)
SELECT tot.n_users, tot.n_converted,
{",".join(f'''       list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
         (SELECT list(CASE WHEN dur <= {h} THEN f ELSE 1.0 END
                 ORDER BY dur) FROM fct)),
         (acc, x) -> acc * x) AS s_unconverted_d{h}''' for h in _KM_HORIZONS)}
FROM tot
""",
    doc="Kaplan–Meier survival of the unconverted state at 1/7/14-day "
        "horizons (first event → first purchase, right-censored), with "
        "the KM product as an order-pinned fold over day-grained "
        "factors.",
)


# ---------------------------------------------------------------------------
# Item–item collaborative filtering over purchase baskets: cosine
# similarity between parts from their order-co-occurrence counts — the
# classic "bought together" recommender primitive. The self-join is
# per-order (basket width ≤ ~7 lines, so fan-out is Σ width², linear
# in orders); pair counts and per-item counts are exact integers; the
# cosine n_ab / sqrt(n_a·n_b) is the single final double op per pair.
# Top-20 by (count desc, pair) keeps the output deterministic.
# ---------------------------------------------------------------------------

def _item_item_cf(spark: SparkSession, sf: str) -> DataFrame:
    # One basket aggregation instead of distinct + self-join (guide
    # §2.4): the old shape shuffled the distinct (order, part) relation
    # THREE more times (join left, join right, per-item counts) to
    # rebuild per-order context the groupBy already had. collect_set is
    # the distinct; the sorted set expanded bucket-locally (posexplode +
    # slice, codegen generators — no interpreted lambda) yields each
    # a < b pair exactly once, so pair counts and per-item counts are
    # unchanged. No fanout here: the keyless repartition's mandatory
    # pre-sort (SPARK-23207) of the full lineitem projection measured
    # +0.6 s, more than the single-task partial agg it parallelizes.
    baskets = (_t(spark, sf, "lineitem")
               .select("l_orderkey", "l_partkey")
               .groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("parts")))
    pairs = (baskets
             .select(F.posexplode("parts").alias("i", "part_a"), "parts")
             .select("part_a",
                     F.explode(F.expr("slice(parts, i + 2, size(parts))"))
                     .alias("part_b"))
             .groupBy("part_a", "part_b")
             .agg(F.count(F.lit(1)).alias("n_both")))
    item = (baskets.select(F.explode("parts").alias("l_partkey"))
            .groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item")))
    na = item.select(F.col("l_partkey").alias("part_a"),
                     F.col("n_item").alias("n_a"))
    nb = item.select(F.col("l_partkey").alias("part_b"),
                     F.col("n_item").alias("n_b"))
    return (pairs.join(F.broadcast(na), "part_a")
                 .join(F.broadcast(nb), "part_b")
                 .select("part_a", "part_b", "n_both", "n_a", "n_b",
                         (F.col("n_both").cast("double")
                          / F.sqrt(F.col("n_a").cast("double")
                                   * F.col("n_b").cast("double")))
                         .alias("cosine"))
                 .orderBy(F.desc("n_both"), "part_a", "part_b")
                 .limit(20))


register(
    "item_item_copurchase",
    _item_item_cf,
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_both
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
it AS (SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY l_partkey)
SELECT p.part_a, p.part_b, p.n_both,
       ia.n_item AS n_a, ib.n_item AS n_b,
       CAST(p.n_both AS DOUBLE)
         / sqrt(CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE))
         AS cosine
FROM p JOIN it ia ON ia.l_partkey = p.part_a
       JOIN it ib ON ib.l_partkey = p.part_b
ORDER BY n_both DESC, part_a, part_b LIMIT 20
""",
    doc="Item-item 'bought together' cosine from order-basket "
        "co-occurrence: per-order self-join (bounded fan-out), exact "
        "counts, one final double op per pair.",
)






# ---------------------------------------------------------------------------
# CUSUM change-point screen over the daily event volume, in CLOSED FORM:
# the one-sided statistic Sₜ = max(0, Sₜ₋₁ + xₜ − μ − k) equals
# Cₜ − min(0, min_{j≤t} C_j) with Cₜ = Pₜ − t·(μ+k) — so instead of a
# sequential fold it is two tiny windows over the DAY-GRAINED series
# (≤ observation-window rows): an INTEGER prefix sum Pₜ (exact) and a
# running min of per-row scalars. A fold version was tried first and
# exposed a genuine cross-engine hazard, recorded here on purpose:
# DuckDB's list_reduce mutates a struct accumulator field-by-field
# (later fields see already-updated earlier fields) while Spark's
# aggregate() evaluates every lambda field from the same immutable
# accumulator — multi-field recurrences silently diverge. Closed forms
# over exact prefix sums sidestep the whole class. k = σ/2 from exact
# integer moments; change_day tie-breaks to the FIRST day reaching the
# max via struct-max on (S, −t).
# ---------------------------------------------------------------------------

def _event_volume_cusum(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    daily = (_t(spark, sf, "events")
             .groupBy(F.col("ts").cast("date").alias("d"))
             .agg(F.count(F.lit(1)).alias("x")))
    stats = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    mu = F.col("sx").cast("double") / F.col("n_days").cast("double")
    kk = (F.sqrt(F.col("sxx").cast("double")
                 / F.col("n_days").cast("double") - mu * mu) / 2.0)
    w = (Window.orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cur = (daily.crossJoin(F.broadcast(stats))
           .withColumn("t", F.row_number().over(Window.orderBy("d")))
           .withColumn("p", F.sum("x").over(w))
           .withColumn("c", F.col("p").cast("double")
                       - F.col("t").cast("double") * (mu + kk))
           .withColumn("runmin", F.least(F.lit(0.0), F.min("c").over(w)))
           .withColumn("s_t", F.col("c") - F.col("runmin")))
    best = F.max(F.struct(F.col("s_t"), (-F.col("t")).alias("nt"),
                          F.col("d"))).alias("m")
    return (cur.groupBy(F.col("n_days").cast("int").alias("n_days"),
                        mu.alias("mu"))
            .agg(best)
            .select("n_days", "mu",
                    F.col("m.s_t").alias("cusum_max"),
                    F.col("m.d").alias("change_day")))


register(
    "event_volume_cusum",
    _event_volume_cusum,
    """
WITH daily AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS x
               FROM events GROUP BY 1),
st AS (SELECT COUNT(*) AS n_days,
              CAST(SUM(x) AS BIGINT) AS sx,
              CAST(SUM(x * x) AS BIGINT) AS sxx
       FROM daily),
g AS (SELECT CAST(n_days AS INT) AS n_days,
             CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) AS mu,
             sqrt(CAST(sxx AS DOUBLE) / CAST(n_days AS DOUBLE)
                  - (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)))
               / 2.0 AS kk
      FROM st),
cur AS (SELECT d,
               ROW_NUMBER() OVER (ORDER BY d) AS t,
               CAST(SUM(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS p,
               g.n_days, g.mu, g.kk
        FROM daily, g),
sc AS (SELECT d, t, n_days, mu,
              CAST(p AS DOUBLE) - CAST(t AS DOUBLE) * (mu + kk) AS c
       FROM cur),
run AS (SELECT d, t, n_days, mu, c,
               least(CAST(0.0 AS DOUBLE),
                     MIN(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))
                 AS runmin
        FROM sc)
SELECT n_days, mu,
       MAX(struct_pack(s_t := c - runmin, nt := -t, d := d)).s_t
         AS cusum_max,
       MAX(struct_pack(s_t := c - runmin, nt := -t, d := d)).d
         AS change_day
FROM run GROUP BY n_days, mu
""",
    doc="One-sided CUSUM change-point over daily event volume in closed "
        "form: exact integer prefix sums, two bounded windows, "
        "first-day tie-break.",
)


# ---------------------------------------------------------------------------
# ANN evaluation metrics: reciprocal rank of the exact top-1 neighbor
# within the IVF top-k, per query point — the standard index-quality
# datasheet (MRR), with rr = 0 when the IVF probe misses the true
# neighbor entirely. ln-free (log2-gain NDCG is a cross-engine libm
# hazard; reciprocal rank is a single exact division). The oracle
# COMPOSES the two already-pinned chains (brute-force top-k and the
# unrolled-Lloyd IVF) as subqueries, so this query also pins their
# agreement with each other, not just each with its own oracle.
# ---------------------------------------------------------------------------

def _ann_mrr(spark: SparkSession, sf: str) -> DataFrame:
    exact = (cosine_topk(_t(spark, sf, "embeddings"), _ANN_QUERY_IDS, k=3)
             .where(F.col("rank") == 1)
             .select("query_id", F.col("neighbor_id").alias("exact_top1")))
    ivf = _ivf_kmeans(spark, sf).select(
        "query_id", "neighbor_id", F.col("rank").alias("ivf_rank"))
    return (exact.join(ivf,
                       (exact.query_id == ivf.query_id)
                       & (exact.exact_top1 == ivf.neighbor_id), "left")
            .select(exact.query_id, "exact_top1",
                    F.col("ivf_rank").cast("int").alias("ivf_rank"),
                    F.coalesce(F.lit(1.0)
                               / F.col("ivf_rank").cast("double"),
                               F.lit(0.0)).alias("rr"))
            .transform(_sorted1, "query_id"))


def _ann_mrr_oracle() -> str:
    from .registry import _REGISTRY
    exact = _REGISTRY["ann_cosine_topk"].oracle
    ivf = _ivf_kmeans_oracle()
    return f"""
SELECT ex.query_id, ex.exact_top1,
       CAST(iv.rank AS INT) AS ivf_rank,
       COALESCE(1.0 / CAST(iv.rank AS DOUBLE), 0.0) AS rr
FROM (SELECT query_id, neighbor_id AS exact_top1
      FROM ({exact}) WHERE rank = 1) ex
LEFT JOIN (SELECT query_id, neighbor_id, rank FROM ({ivf})) iv
  ON iv.query_id = ex.query_id AND iv.neighbor_id = ex.exact_top1
ORDER BY ex.query_id
"""


register(
    "ann_mrr_eval",
    _ann_mrr,
    _ann_mrr_oracle(),
    doc="ANN index quality: reciprocal rank of the exact top-1 within "
        "the IVF top-k per query point (0 on probe miss); the oracle "
        "composes the two independently-pinned chains.",
)


# ---------------------------------------------------------------------------
# Cross-source score calibration (quantile normalization): a quality
# threshold tuned on one source transfers badly to another when their
# score DISTRIBUTIONS differ, so mixing pipelines normalize each doc's
# score to its within-source quantile rank first. q = (rank − 1)/(n − 1)
# with rank by (quality, doc_id) inside the source — integer window
# arithmetic + one final division, so the oracle replays it exactly.
# The datasheet aggregates per source: raw-score mean vs the (by
# construction ~uniform) calibrated mean, and the share of docs each
# source would contribute to a global top-25% cut BEFORE calibration —
# the number that exposes the distribution mismatch. Per-source windows
# shuffle on source; for skewed sources the two-pass row-id gear
# (add_row_id) is the documented escape hatch.
# ---------------------------------------------------------------------------

def _quantile_normalized_quality(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    from .operators.text import quality_expr
    d = _t(spark, sf, "documents").select(
        "doc_id", "source", quality_expr(F.col("text")).alias("q"))
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    scored = (d.withColumn("rnk", F.row_number().over(w))
               .withColumn("n_src", F.count(F.lit(1))
                           .over(Window.partitionBy("source")))
               .withColumn("q_cal",
                           (F.col("rnk") - 1).cast("double")
                           / (F.col("n_src") - 1).cast("double")))
    cut = d.agg(F.expr("percentile(q, 0.75)").alias("q75"))
    return (scored.crossJoin(F.broadcast(cut))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.expr("percentile(q, 0.5)").alias("raw_p50"),
                 F.sum("rnk").alias("_rnksum"),
                 F.sum(F.when(F.col("q") > F.col("q75"), 1).otherwise(0))
                  .cast("bigint").alias("n_above_global_cut"))
            .select("source", "n_docs", "raw_p50",
                    # Σ q_cal = Σ(rnk−1)/(n−1) = (Σrnk − n)/(n−1); the
                    # mean divides by n — integer arithmetic until ONE
                    # double division (float q_cal sums would be
                    # shuffle-order-dependent)
                    ((F.col("_rnksum") - F.col("n_docs")).cast("double")
                     / ((F.col("n_docs") - 1) * F.col("n_docs"))
                       .cast("double")).alias("cal_mean"),
                    "n_above_global_cut")
            .transform(_sorted1, "source"))


register(
    "quantile_normalized_quality",
    _quantile_normalized_quality,
    f"""
WITH t AS (SELECT doc_id, source, {_DUCK_TOKENS} AS tk FROM documents),
s AS (SELECT doc_id, source,
  (0.4 * least(len(tk) / 50.0, 1.0)
             + 0.4 * (len(list_distinct(tk)) / len(tk))
             + 0.2 * (len(list_filter(tk, x -> x IN ({_STOP_SQL}))) / len(tk)))
    AS q
  FROM t),
r AS (SELECT source, q,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY q, doc_id) AS rnk
      FROM s),
cut AS (SELECT quantile_cont(q, 0.75) AS q75 FROM s)
SELECT source, COUNT(*) AS n_docs,
       quantile_cont(q, 0.5) AS raw_p50,
       CAST(CAST(SUM(rnk) AS BIGINT) - COUNT(*) AS DOUBLE)
         / CAST((COUNT(*) - 1) * COUNT(*) AS DOUBLE) AS cal_mean,
       CAST(SUM(CASE WHEN q > q75 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above_global_cut
FROM r, cut GROUP BY source ORDER BY source
""",
    doc="Cross-source quality-score calibration: within-source quantile "
        "rank (integer window + one division), per-source raw median vs "
        "calibrated mean, and each source's share above the global "
        "top-25% raw cut.",
)


# ---------------------------------------------------------------------------
# PMI collocation mining: the phrase-discovery table (AutoPhrase /
# collocation-extraction style) — adjacent-bigram pointwise mutual
# information as an exact RATIONAL ratio, log-free so it is cross-engine
# bit-exact: pmi_ratio = P(w1,w2) / (P(w1)·P(w2))
#                      = (cb · tu · tu) / (cu1 · cu2 · tb)
# computed as ONE explicitly-parenthesized double expression (identical
# association order on both engines). Support floor cb ≥ 5 kills the
# hapax noise that dominates raw PMI.
#
# Scale shape: consecutive pairs come from ARRAY SLICING on the token
# array (adjacency is within-row structure — no posexplode+lead window,
# which would shuffle the whole exploded corpus by doc just to look one
# row ahead); unigram/bigram counts are combinable aggs (shuffle =
# vocab, not corpus); the totals are array-length sums that never
# explode at all and ride in as two 1-row broadcast frames (PLANS.md
# reading guide); the final top-50 is a TakeOrdered over the vocab-
# sized scored frame, never the corpus.
# ---------------------------------------------------------------------------

def _pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import tokens
    d = _t(spark, sf, "documents").select(tokens(F.col("text")).alias("ts"))
    n_pairs = F.greatest(F.size("ts") - 1, F.lit(0))
    big = (d.select(F.slice("ts", 1, n_pairs).alias("a"),
                    F.slice("ts", 2, n_pairs).alias("b"))
            .select(F.explode(F.arrays_zip("a", "b")).alias("p"))
            .select(F.col("p.a").alias("w1"), F.col("p.b").alias("w2")))
    uni = (d.select(F.explode("ts").alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("cu")))
    bi = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    tu = d.agg(F.sum(F.size("ts")).alias("tu"))
    tb = d.agg(F.sum(n_pairs.cast("long")).alias("tb"))
    scored = (bi.filter(F.col("cb") >= 5)
                .join(uni.select(F.col("tok").alias("w1"),
                                 F.col("cu").alias("cu1")), "w1")
                .join(uni.select(F.col("tok").alias("w2"),
                                 F.col("cu").alias("cu2")), "w2")
                .crossJoin(F.broadcast(tu))
                .crossJoin(F.broadcast(tb)))
    pmi = ((F.col("cb").cast("double") * F.col("tu") * F.col("tu"))
           / (F.col("cu1").cast("double") * F.col("cu2") * F.col("tb")))
    return (scored.select("w1", "w2",
                          F.col("cb").alias("pair_count"),
                          F.col("cu1").alias("w1_count"),
                          F.col("cu2").alias("w2_count"),
                          pmi.alias("pmi_ratio"))
                  .orderBy(F.desc("pmi_ratio"), "w1", "w2")
                  .limit(50))


register(
    "pmi_collocations",
    _pmi_collocations,
    f"""
WITH toks AS (
  SELECT doc_id, CAST(unnest(range(len(ts))) AS INT) AS pos,
         unnest(ts) AS tok
  FROM (SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents)),
big AS (
  SELECT doc_id, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks),
bi AS (SELECT w1, w2, COUNT(*) AS cb FROM big
       WHERE w2 IS NOT NULL GROUP BY 1, 2),
uni AS (SELECT tok, COUNT(*) AS cu FROM toks GROUP BY 1),
tots AS (SELECT (SELECT COUNT(*) FROM toks) AS tu,
                (SELECT COUNT(*) FROM big WHERE w2 IS NOT NULL) AS tb)
SELECT b.w1, b.w2, b.cb AS pair_count,
       u1.cu AS w1_count, u2.cu AS w2_count,
       (CAST(b.cb AS DOUBLE) * t.tu * t.tu)
         / (CAST(u1.cu AS DOUBLE) * u2.cu * t.tb) AS pmi_ratio
FROM bi b
JOIN uni u1 ON u1.tok = b.w1
JOIN uni u2 ON u2.tok = b.w2, tots t
WHERE b.cb >= 5
ORDER BY pmi_ratio DESC, w1, w2
LIMIT 50
""",
    doc="Adjacent-bigram PMI collocations (support >= 5): log-free "
        "rational ratio, one pinned-association double expression on "
        "both engines; top-50 phrase candidates.",
)


# ---------------------------------------------------------------------------
# Embedding-health diagnostics per label: the pre-indexing QA table that
# catches collapsed / mis-scaled / broken embedding batches BEFORE they
# poison an ANN index or SemDeDup run — per group: member count, norm
# stats (fold-mean / min / max), the centroid's own norm (a collapsed
# group has near-zero members-mean but a healthy centroid norm shows
# anisotropy), and cohesion = fold-mean cosine of members to their
# centroid (intra-cluster tightness; near 1.0 = degenerate duplicates,
# near 0 = label is semantic soup).
#
# Engine-exact: centroids come from label_centroids' id-ordered fold
# (its oversized-group guard protects this whole composition — the
# per-label cosine/norm lists here are exactly as long as its per-
# (label, dim) lists); member norms/cosines are ddot folds; the
# per-label means fold the member values in vec_id order. Scale shape:
# centroid table is |labels|×dim tiny → broadcast back; everything else
# is one linear scan + label-keyed combinable aggs.
# ---------------------------------------------------------------------------

def _embedding_health(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.exact import ddot
    from .operators.similarity import label_centroids
    emb = _t(spark, sf, "embeddings")
    cent = (label_centroids(emb)
            .groupBy("label")
            .agg(F.expr("transform(array_sort(collect_list("
                        "struct(dim, centroid))), p -> p.centroid)")
                  .alias("cvec")))
    cent = cent.select(
        "label", "cvec",
        F.sqrt(ddot(F.col("cvec"), F.col("cvec"))).alias("centroid_norm"))
    nrm = F.sqrt(ddot(F.col("embedding"), F.col("embedding")))
    scored = (emb.join(F.broadcast(cent), "label")
                 .select("label", "vec_id", nrm.alias("nrm"),
                         (ddot(F.col("embedding"), F.col("cvec"))
                          / (nrm * F.col("centroid_norm"))).alias("cs")))
    per = (scored.groupBy("label")
           .agg(F.count(F.lit(1)).alias("n_vectors"),
                F.expr("transform(array_sort(collect_list("
                       "struct(vec_id, nrm))), p -> p.nrm)").alias("_ns"),
                F.expr("transform(array_sort(collect_list("
                       "struct(vec_id, cs))), p -> p.cs)").alias("_cs"),
                F.min("nrm").alias("min_norm"),
                F.max("nrm").alias("max_norm")))

    def fold_mean(c: str):
        return (F.aggregate(F.col(c), F.lit(0.0), lambda a, x: a + x)
                / F.col("n_vectors"))

    return (per.join(cent.select("label", "centroid_norm"), "label")
               .select("label", "n_vectors",
                       fold_mean("_ns").alias("mean_norm"),
                       "min_norm", "max_norm", "centroid_norm",
                       fold_mean("_cs").alias("cohesion"))
               .transform(_sorted1, "label"))


register(
    "embedding_health_by_label",
    _embedding_health,
    f"""
WITH cents AS (
  SELECT label, list(m ORDER BY dim) AS cvec FROM (
    SELECT label, dim,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
                       (a, b) -> a + b) / len(vs) AS m
    FROM (SELECT label, dim, list(v ORDER BY vec_id) AS vs
          FROM (SELECT label, vec_id,
                       CAST(unnest(embedding) AS DOUBLE) AS v,
                       CAST(unnest(range(len(embedding))) AS INT) AS dim
                FROM embeddings)
          GROUP BY label, dim))
  GROUP BY label),
scored AS (
  SELECT e.label, e.vec_id,
         sqrt({_duck_dot('e.embedding', 'e.embedding')}) AS nrm,
         {_duck_dot('e.embedding', 'c.cvec')}
           / (sqrt({_duck_dot('e.embedding', 'e.embedding')})
              * sqrt({_duck_dot('c.cvec', 'c.cvec')})) AS cs
  FROM embeddings e JOIN cents c USING (label)),
folds AS (
  SELECT label, COUNT(*) AS n_vectors,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(nrm ORDER BY vec_id)),
                     (a, b) -> a + b) AS sn,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(cs ORDER BY vec_id)),
                     (a, b) -> a + b) AS sc,
         MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
  FROM scored GROUP BY label)
SELECT f.label, f.n_vectors,
       f.sn / f.n_vectors AS mean_norm,
       f.min_norm, f.max_norm,
       sqrt({_duck_dot('c.cvec', 'c.cvec')}) AS centroid_norm,
       f.sc / f.n_vectors AS cohesion
FROM folds f JOIN cents c USING (label)
ORDER BY f.label
""",
    doc="Per-label embedding QA: member count, norm fold-mean/min/max, "
        "centroid norm, and fold-mean cosine cohesion to the label "
        "centroid — the pre-ANN/SemDeDup health table.",
)


# ---------------------------------------------------------------------------
# Data-constrained epoch scheduler: when the token BUDGET exceeds the
# unique-token supply, the curator repeats sources — but repetition has
# sharply diminishing returns past a few epochs ("Scaling Data-
# Constrained Language Models", Muennighoff et al. 2023), so each
# source is capped at MAX_EPOCHS x its unique supply and the budget
# waterfills across the CAPS: small sources hit their repetition cap
# (at_cap), large ones land at a common water level below it. Pure
# composition over the waterfill closed form — cap column as the
# "supply", budget re-expressed against the cap total ((3T) div 2 ==
# floor(1.5T) for every integer T, so the 1/2-of-caps budget IS the
# 1.5x-of-supply budget with MAX_EPOCHS=3) — hence integer-exact and
# engine-identical for the allocation; epochs is the one double
# division at the end. Same scale shape as token_budget_waterfill: one
# combinable per-source sum, then |sources|-row windows.
# ---------------------------------------------------------------------------

def _epoch_schedule(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.packing import waterfill
    from .operators.text import tokens
    d = _t(spark, sf, "documents")
    sup = (d.select("source",
                    F.size(tokens(F.col("text"))).cast("long").alias("nt"))
            .groupBy("source").agg(F.sum("nt").alias("supply_tokens"))
            .withColumn("cap_tokens", F.col("supply_tokens") * 3))
    # budget = Σcap * 1 div 2 = (3·Σsupply) div 2 = floor(1.5 · Σsupply)
    alloc = waterfill(sup.select("source", "cap_tokens"),
                      key_col="source", supply_col="cap_tokens",
                      budget_num=1, budget_den=2)
    return (alloc.join(sup.select("source", "supply_tokens"), "source")
                 .select("source", "supply_tokens", "cap_tokens",
                         F.col("fully_funded").alias("at_cap"),
                         "allocated_tokens",
                         (F.col("allocated_tokens").cast("double")
                          / F.col("supply_tokens").cast("double"))
                          .alias("epochs"))
                 .orderBy("source"))


register(
    "epoch_repetition_schedule",
    _epoch_schedule,
    r"""
WITH sup AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
           AS supply_tokens
  FROM documents GROUP BY source),
capd AS (SELECT source, supply_tokens,
                supply_tokens * 3 AS cap_tokens FROM sup),
g AS (
  SELECT source, supply_tokens, cap_tokens,
         ROW_NUMBER() OVER (ORDER BY cap_tokens, source) AS k,
         COUNT(*) OVER () AS n,
         CAST(SUM(cap_tokens) OVER () AS BIGINT) AS total,
         CAST(COALESCE(SUM(cap_tokens) OVER (
              ORDER BY cap_tokens, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS prefix
  FROM capd),
f AS (
  SELECT *, total * 1 // 2 AS budget,
         (prefix + cap_tokens * (n - k + 1)) <= (total * 1 // 2)
           AS at_cap
  FROM g),
a AS (
  SELECT *,
         CAST(SUM(CASE WHEN at_cap THEN cap_tokens ELSE 0 END)
              OVER () AS BIGINT) AS prefix_full,
         CAST(SUM(CASE WHEN at_cap THEN 1 ELSE 0 END) OVER ()
           AS BIGINT) AS n_full,
         n - SUM(CASE WHEN at_cap THEN 1 ELSE 0 END) OVER () AS n_tail
  FROM f),
r AS (
  SELECT source, supply_tokens, cap_tokens, at_cap,
         CAST(CASE WHEN at_cap THEN cap_tokens
                   WHEN n_tail = 0 THEN cap_tokens
                   ELSE (budget - prefix_full) // n_tail
                        + (CASE WHEN (k - n_full)
                                     <= (budget - prefix_full) % n_tail
                           THEN 1 ELSE 0 END)
              END AS BIGINT) AS allocated_tokens
  FROM a)
SELECT source, supply_tokens, cap_tokens, at_cap, allocated_tokens,
       CAST(allocated_tokens AS DOUBLE) / CAST(supply_tokens AS DOUBLE)
         AS epochs
FROM r ORDER BY source
""",
    doc="Epoch-repetition schedule under a 1.5x-of-supply token budget "
        "with a 3-epoch repetition cap per source (data-constrained "
        "scaling): waterfill over caps, integer-exact allocation, "
        "epochs as the one final double division.",
)


# ---------------------------------------------------------------------------
# Real-decode roundtrip oracle: the multimodal seam's first VALUE-
# hashable driver query. Each document's UTF-8 bytes are wrapped into a
# genuine RIFF/WAVE container JVM-side (header fields assembled as
# little-endian bytes with hex/unhex — binary stays binary, no
# stringification), decoded by the REAL WAV parser through the Arrow
# mapInPandas seam (operators/multimodal.decode_wav: chunk walk +
# exact-integer PCM energy), and the decoded features are hash-compared
# against a DuckDB oracle that computes the same 16-bit little-endian
# samples directly from the text bytes. Every output is integer
# arithmetic — Σx², integer division — so the decode path is as
# oracle-stable as any relational column.
#
# Scale shape: narrow map end-to-end (construct header + concat bytes,
# one Arrow crossing per batch for the decode), zero shuffles before
# the final doc_id sort; payload bytes dominate partition sizing, which
# is exactly the multimodal partitioning note in operators/multimodal.
# ---------------------------------------------------------------------------

def _wav_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.multimodal import extract_media_features

    def le32(c):
        def pair(x):
            return F.lpad(F.hex(x % 256), 2, "0")
        return F.unhex(F.concat(pair(c), pair((c / 256).cast("long")),
                                pair((c / 65536).cast("long")),
                                pair((c / 16777216).cast("long"))))

    d = _t(spark, sf, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    data = F.when(F.octet_length(raw) % 2 == 1,
                  F.concat(raw, F.lit(b"\x00"))).otherwise(raw)
    dlen = F.octet_length(data).cast("long")
    # fmt chunk: PCM, mono, 8 kHz, 16 bps — static, one literal.
    fmt = (b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
           + (2).to_bytes(2, "little") + (16).to_bytes(2, "little"))
    payload = F.concat(F.lit(b"RIFF"), le32(dlen + 36), F.lit(b"WAVE"),
                       F.lit(fmt), F.lit(b"data"), le32(dlen), data)
    binary_df = d.select("doc_id", payload.alias("payload"))
    return (extract_media_features(binary_df)
            .select("doc_id", "mime_detected", "byte_len", "channels",
                    "sample_rate", "duration_ms", "ms_amplitude")
            .transform(_sorted1, "doc_id"))


register(
    "wav_decode_roundtrip",
    _wav_roundtrip,
    r"""
WITH b AS (SELECT doc_id, hex(encode(text)) AS hx0 FROM documents),
p AS (SELECT doc_id,
             CASE WHEN length(hx0) % 4 = 0 THEN hx0
                  ELSE hx0 || '00' END AS hx
      FROM b),
s AS (SELECT doc_id, CAST(length(hx) // 4 AS BIGINT) AS n,
             list_transform(range(0, length(hx) // 4), i ->
               ('0x' || substr(hx, CAST(4 * i + 1 AS INT), 2))::BIGINT
               + 256 * ('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2))::BIGINT)
               AS raw
      FROM p),
v AS (SELECT doc_id, n,
             list_transform(raw, x -> CASE WHEN x >= 32768
                                           THEN x - 65536 ELSE x END) AS vals
      FROM s)
SELECT doc_id,
       'audio/wav' AS mime_detected,
       CAST(2 * n + 44 AS BIGINT) AS byte_len,
       CAST(1 AS BIGINT) AS channels,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
       CASE WHEN n = 0 THEN NULL
            ELSE CAST(list_sum(list_transform(vals, x -> x * x)) // n
                      AS BIGINT) END AS ms_amplitude
FROM v ORDER BY doc_id
""",
    doc="Real WAV decode roundtrip: text bytes wrapped in a genuine "
        "RIFF/WAVE container JVM-side, decoded by the real PCM parser "
        "through mapInPandas, hash-verified against sample-level SQL "
        "over the same bytes — the multimodal seam's value oracle.",
)


# ---------------------------------------------------------------------------
# BMP roundtrip oracle — the image half of the real-decode seam, same
# design as wav_decode_roundtrip: text bytes (zero-padded to 12-byte
# rows) become the pixel array of a genuine width-4 24-bpp BMP (stride
# = 4px x 3B = 12 — divisible by 4, so the array is the raw bytes with
# NO interleaved row padding), the real header parser + numpy channel
# means decode it through the Arrow seam, and DuckDB recomputes the
# exact integer per-channel means from the same bytes (byte i belongs
# to channel i mod 3 because the stride is a multiple of 3). Narrow map
# end-to-end, integer arithmetic only.
# ---------------------------------------------------------------------------

def _bmp_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.multimodal import extract_media_features

    def le32(c):
        def pair(x):
            return F.lpad(F.hex(x % 256), 2, "0")
        return F.unhex(F.concat(pair(c), pair((c / 256).cast("long")),
                                pair((c / 65536).cast("long")),
                                pair((c / 16777216).cast("long"))))

    d = _t(spark, sf, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    pad = (12 - F.octet_length(raw) % 12) % 12
    data = F.concat(raw, F.substring(F.lit(b"\x00" * 11), 1, pad))
    dlen = F.octet_length(data).cast("long")
    h = (dlen / 12).cast("long")
    header = F.concat(
        F.lit(b"BM"), le32(dlen + 54), F.lit(b"\x00\x00\x00\x00"),
        le32(F.lit(54)),                       # pixel-array offset
        le32(F.lit(40)), le32(F.lit(4)), le32(h),  # info hdr, w=4, h
        F.lit((1).to_bytes(2, "little") + (24).to_bytes(2, "little")),
        le32(F.lit(0)), le32(dlen),            # BI_RGB, image size
        F.lit(b"\x00" * 16))                   # resolution/palette zeros
    binary_df = d.select("doc_id", F.concat(header, data).alias("payload"))
    return (extract_media_features(binary_df)
            .select("doc_id", "mime_detected", "byte_len", "width",
                    "height", "mean_b_milli", "mean_g_milli",
                    "mean_r_milli")
            .transform(_sorted1, "doc_id"))


register(
    "bmp_decode_roundtrip",
    _bmp_roundtrip,
    r"""
WITH b AS (SELECT doc_id, hex(encode(text)) AS hx0 FROM documents),
p AS (SELECT doc_id,
             hx0 || repeat('00', CAST((12 - (length(hx0) // 2) % 12) % 12
                                      AS BIGINT)) AS hx
      FROM b),
s AS (SELECT doc_id, CAST(length(hx) // 2 AS BIGINT) AS nb,
             list_transform(range(0, length(hx) // 2), i ->
               ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)
               AS bytes
      FROM p),
m AS (SELECT doc_id, nb, nb // 3 AS npx,
             list_sum(list_transform(range(0, nb // 3),
                                     i -> bytes[CAST(3 * i + 1 AS INT)]))
               AS sb,
             list_sum(list_transform(range(0, nb // 3),
                                     i -> bytes[CAST(3 * i + 2 AS INT)]))
               AS sg,
             list_sum(list_transform(range(0, nb // 3),
                                     i -> bytes[CAST(3 * i + 3 AS INT)]))
               AS sr
      FROM s)
SELECT doc_id,
       'image/bmp' AS mime_detected,
       CAST(nb + 54 AS BIGINT) AS byte_len,
       CAST(4 AS BIGINT) AS width,
       CAST(nb // 12 AS BIGINT) AS height,
       CASE WHEN npx = 0 THEN NULL
            ELSE CAST(sb * 1000 // npx AS BIGINT) END AS mean_b_milli,
       CASE WHEN npx = 0 THEN NULL
            ELSE CAST(sg * 1000 // npx AS BIGINT) END AS mean_g_milli,
       CASE WHEN npx = 0 THEN NULL
            ELSE CAST(sr * 1000 // npx AS BIGINT) END AS mean_r_milli
FROM m ORDER BY doc_id
""",
    doc="Real BMP decode roundtrip: text bytes as the pixel array of a "
        "genuine width-4 24-bpp BMP, decoded by the real header parser "
        "+ integer channel means through mapInPandas, hash-verified "
        "against byte-level SQL over the same bytes.",
)


# ---------------------------------------------------------------------------
# PNG roundtrip oracle — the COMPRESSED half of the real-decode seam
# (the r6 gap: BMP/WAV are uncompressed containers; a real corpus is
# compressed formats). Text bytes (zero-padded to 12-byte rows) become
# the RGB pixels of a genuine 8-bit truecolor PNG built by
# operators/multimodal.encode_png — real zlib deflate in the IDAT
# stream, per-chunk CRC-32s, scanline filters cycling None/Sub/Up — in
# one Arrow-batched encode pass; decode_png then walks the chunks
# (verifying CRCs), INFLATES the stream (Adler-32 checked), reverses
# the filters and computes exact integer channel means through the
# same mapInPandas seam as BMP/WAV. DuckDB recomputes the expected
# means directly from the text bytes, so a bug anywhere in the codec
# round trip (filter math, chunk framing, inflate plumbing) breaks the
# value hash. Compressed bytes themselves are never hashed — zlib
# version differences cannot leak into oracle values.
#
# Scale shape: two narrow Arrow crossings (encode, decode), zero
# shuffles before the final doc_id sort; payload-byte partition sizing
# per the multimodal module note.
# ---------------------------------------------------------------------------

def _png_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd
    from .operators.multimodal import encode_png, extract_media_features

    d = _t(spark, sf, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    pad = (12 - F.octet_length(raw) % 12) % 12
    rgb = F.concat(raw, F.substring(F.lit(b"\x00" * 11), 1, pad))
    # Explicit width before the Arrow crossings: the codec is CPU-dense
    # per byte, and the single-file scan would otherwise serialize both
    # mapInPandas stages onto one core (the exact_dedup_survivors
    # rationale; measured ~2.5x on this query at sf0.1). Width = CORES,
    # not shuffle.partitions: the target is one Python worker per core,
    # and a vanilla session's 200 shuffle partitions would fragment the
    # Arrow batches (measured 14s vs ~2s at sf0.01 vanilla).
    src = (d.select("doc_id", rgb.alias("rgb"))
            .repartition(spark.sparkContext.defaultParallelism))

    def enc(it):
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "payload": [encode_png(bytes(b), 4) for b in pdf["rgb"]],
            })

    binary_df = src.mapInPandas(enc, "doc_id long, payload binary")
    return (extract_media_features(binary_df)
            .select("doc_id", "mime_detected", "width", "height",
                    "mean_r_milli", "mean_g_milli", "mean_b_milli")
            .transform(_sorted1, "doc_id"))


register(
    "png_decode_roundtrip",
    _png_roundtrip,
    r"""
WITH b AS (SELECT doc_id, hex(encode(text)) AS hx0 FROM documents),
p AS (SELECT doc_id,
             hx0 || repeat('00', CAST((12 - (length(hx0) // 2) % 12) % 12
                                      AS BIGINT)) AS hx
      FROM b),
s AS (SELECT doc_id, CAST(length(hx) // 2 AS BIGINT) AS nb,
             list_transform(range(0, length(hx) // 2), i ->
               ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)
               AS bytes
      FROM p),
m AS (SELECT doc_id, nb, nb // 3 AS npx,
             list_sum(list_transform(range(0, nb // 3),
                                     i -> bytes[CAST(3 * i + 1 AS INT)]))
               AS sr,
             list_sum(list_transform(range(0, nb // 3),
                                     i -> bytes[CAST(3 * i + 2 AS INT)]))
               AS sg,
             list_sum(list_transform(range(0, nb // 3),
                                     i -> bytes[CAST(3 * i + 3 AS INT)]))
               AS sb
      FROM s)
SELECT doc_id,
       'image/png' AS mime_detected,
       CAST(4 AS BIGINT) AS width,
       CAST(nb // 12 AS BIGINT) AS height,
       CASE WHEN npx = 0 THEN NULL
            ELSE CAST(sr * 1000 // npx AS BIGINT) END AS mean_r_milli,
       CASE WHEN npx = 0 THEN NULL
            ELSE CAST(sg * 1000 // npx AS BIGINT) END AS mean_g_milli,
       CASE WHEN npx = 0 THEN NULL
            ELSE CAST(sb * 1000 // npx AS BIGINT) END AS mean_b_milli
FROM m ORDER BY doc_id
""",
    doc="Real PNG decode roundtrip: text bytes as the RGB pixels of a "
        "genuine zlib-deflate PNG (filters None/Sub/Up across rows, "
        "CRC-checked chunks), encoded and decoded through two Arrow "
        "crossings, hash-verified against byte-level SQL over the same "
        "bytes — the compressed-codec half of the multimodal seam.",
)


# ---------------------------------------------------------------------------
# BMP resize (exact 2x2 box downsample): the RESIZE half of the media
# pipeline made real — decode → integer floor-mean downsample → per-
# channel sums, all pinned by byte-level SQL over the original pixel
# bytes. Text bytes pad to 24-byte blocks so the height is EVEN: with
# whole 2x2 blocks the channel sums are storage-orientation-invariant
# (bottom-up row pairing is the same set of pairs), keeping the oracle
# free of orientation arithmetic; odd-size behavior (floor drop) is
# pinned in pytest instead. Float bilinear would be library-specific —
# integer box filtering is the deterministic choice.
# ---------------------------------------------------------------------------

def _bmp_resize_features(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd
    from .operators.multimodal import bmp_pixels, downsample_box2

    def le32(c):
        def pair(x):
            return F.lpad(F.hex(x % 256), 2, "0")
        return F.unhex(F.concat(pair(c), pair((c / 256).cast("long")),
                                pair((c / 65536).cast("long")),
                                pair((c / 16777216).cast("long"))))

    d = _t(spark, sf, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    pad = (24 - F.octet_length(raw) % 24) % 24
    data = F.concat(raw, F.substring(F.lit(b"\x00" * 23), 1, pad))
    dlen = F.octet_length(data).cast("long")
    h = (dlen / 12).cast("long")
    header = F.concat(
        F.lit(b"BM"), le32(dlen + 54), F.lit(b"\x00\x00\x00\x00"),
        le32(F.lit(54)), le32(F.lit(40)), le32(F.lit(4)), le32(h),
        F.lit((1).to_bytes(2, "little") + (24).to_bytes(2, "little")),
        le32(F.lit(0)), le32(dlen), F.lit(b"\x00" * 16))
    src = (d.select("doc_id", F.concat(header, data).alias("payload"))
            .repartition(spark.sparkContext.defaultParallelism))

    def feats(it):
        for pdf in it:
            rows = []
            for p in pdf["payload"]:
                small = downsample_box2(bmp_pixels(bytes(p)))
                s = small.sum(axis=(0, 1)) if small.size else [0, 0, 0]
                rows.append({"out_w": small.shape[1],
                             "out_h": small.shape[0],
                             "sum_b": int(s[0]), "sum_g": int(s[1]),
                             "sum_r": int(s[2])})
            out = pd.DataFrame(rows)
            out.insert(0, "doc_id", pdf["doc_id"].astype("int64").values)
            yield out

    return (src.mapInPandas(feats, "doc_id long, out_w long, out_h long,"
                                   " sum_b long, sum_g long, sum_r long")
               .transform(_sorted1, "doc_id"))


register(
    "bmp_resize_features",
    _bmp_resize_features,
    r"""
WITH b AS (SELECT doc_id, hex(encode(text)) AS hx0 FROM documents),
p AS (SELECT doc_id,
             hx0 || repeat('00', CAST((24 - (length(hx0) // 2) % 24) % 24
                                      AS BIGINT)) AS hx
      FROM b),
s AS (SELECT doc_id, CAST(length(hx) // 2 AS BIGINT) AS nb,
             list_transform(range(0, length(hx) // 2), i ->
               ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT)
               AS bytes
      FROM p),
m AS (SELECT doc_id, nb, nb // 24 AS h2,
             list_sum(list_transform(range(0, (nb // 24) * 2), k ->
               (bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 1 AS INT)]
                + bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 4 AS INT)]
                + bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 13 AS INT)]
                + bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 16 AS INT)])
               // 4)) AS sum_b,
             list_sum(list_transform(range(0, (nb // 24) * 2), k ->
               (bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 2 AS INT)]
                + bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 5 AS INT)]
                + bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 14 AS INT)]
                + bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 17 AS INT)])
               // 4)) AS sum_g,
             list_sum(list_transform(range(0, (nb // 24) * 2), k ->
               (bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 3 AS INT)]
                + bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 6 AS INT)]
                + bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 15 AS INT)]
                + bytes[CAST(24 * (k // 2) + 6 * (k % 2) + 18 AS INT)])
               // 4)) AS sum_r
      FROM s)
SELECT doc_id,
       CAST(2 AS BIGINT) AS out_w,
       h2 AS out_h,
       CAST(COALESCE(sum_b, 0) AS BIGINT) AS sum_b,
       CAST(COALESCE(sum_g, 0) AS BIGINT) AS sum_g,
       CAST(COALESCE(sum_r, 0) AS BIGINT) AS sum_r
FROM m ORDER BY doc_id
""",
    doc="Real image RESIZE: decode a genuine width-4 24-bpp BMP and "
        "2x2 integer box-downsample it (floor mean — deterministic, "
        "unlike float bilinear), per-channel sums hash-verified "
        "against byte-index SQL over the original pixel bytes.",
)


# ---------------------------------------------------------------------------
# Gzip ingestion roundtrip: documents gzip-wrapped in one Arrow
# crossing (stdlib gzip — real DEFLATE, CRC-32 + ISIZE trailers), then
# decompressed and fingerprinted through a second crossing; the oracle
# recomputes length and md5 from the original text, so a bug anywhere
# in the wrap/unwrap path (member framing, inflate, trailer checks)
# breaks the value hash. Compressed bytes are never hashed — the gzip
# header's mtime field and compressor level cannot leak into oracle
# values. The .jsonl.gz / WARC ingestion seam, value-pinned.
# ---------------------------------------------------------------------------

def _gzip_text_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import gzip
    import hashlib

    import pandas as pd
    from .operators.multimodal import decode_gzip

    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def enc(it):
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "payload": [gzip.compress(t.encode("utf-8"))
                            for t in pdf["text"]],
            })

    def dec(it):
        for pdf in it:
            raw = [decode_gzip(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "uncompressed_len": [len(b) for b in raw],
                "text_md5": [hashlib.md5(b).hexdigest() for b in raw],
            })

    return (src.mapInPandas(enc, "doc_id long, payload binary")
               .mapInPandas(dec, "doc_id long, uncompressed_len long,"
                                 " text_md5 string")
               .transform(_sorted1, "doc_id"))


register(
    "gzip_text_roundtrip",
    _gzip_text_roundtrip,
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS uncompressed_len,
       md5(text) AS text_md5
FROM documents ORDER BY doc_id
""",
    doc="Real gzip wrap/unwrap through two Arrow crossings (DEFLATE + "
        "CRC-32/ISIZE trailer verification), value-pinned by "
        "recomputing length and md5 from the original text — the "
        ".jsonl.gz / WARC ingestion seam.",
)


# ---------------------------------------------------------------------------
# Deterministic training order: the LAST transform before data reaches
# a trainer — a seeded global shuffle with reproducible positions. The
# order key is md5(seed || doc_id) (portable, layout-independent — the
# same property argument as serve.hash_split vs randomSplit), and the
# dense global position comes from the W4 two-pass range-partitioned
# row id, never a single-task window. Re-running with the same seed on
# any cluster layout reproduces byte-identical order; changing the
# seed reshuffles. Position also yields the per-shard (shard, offset)
# pair a multi-host loader consumes.
# ---------------------------------------------------------------------------

_ORDER_SEED = "epoch0"
_ORDER_SHARDS = 8


def _training_order(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import add_row_id
    from .operators.text import md5_hash
    d = _t(spark, sf, "documents").select(
        "doc_id",
        md5_hash(F.concat(F.lit(_ORDER_SEED + ":"),
                          F.col("doc_id").cast("string"))).alias("_ok"))
    ordered = add_row_id(d, [F.asc("_ok"), F.asc("doc_id")],
                         name="position")
    return (ordered.select(
                "doc_id", "position",
                (F.col("position") % _ORDER_SHARDS).cast("int")
                 .alias("shard"),
                F.expr(f"position div {_ORDER_SHARDS}").alias("offset"))
            .transform(_sorted1, "position"))


register(
    "training_order_manifest",
    _training_order,
    f"""
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5('{_ORDER_SEED}:' || CAST(doc_id AS VARCHAR)),
                         1, 12))::BIGINT AS ok
  FROM documents),
r AS (SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY ok, doc_id) - 1 AS BIGINT)
               AS position
      FROM k)
SELECT doc_id, position,
       CAST(position % {_ORDER_SHARDS} AS INT) AS shard,
       position // {_ORDER_SHARDS} AS offset
FROM r ORDER BY position
""",
    doc="Seeded deterministic global training order: md5(seed||id) "
        "order key + two-pass range-partitioned dense positions (no "
        "single-task window), with round-robin (shard, offset) for "
        "multi-host loaders — reproducible under any cluster layout, "
        "reshuffled by the seed.",
)


# ---------------------------------------------------------------------------
# JPEG header probe — the metadata half of compressed-image handling.
# Entropy decode stays honestly stubbed (no codec library in this
# environment), but the container walk is real: the query builds a
# genuine JPEG segment stream JVM-side (SOI, literal JFIF APP0, a
# variable-length COM segment carrying the document text — so the
# probe's skip-by-length logic is actually exercised — and an SOF0
# frame header with computed big-endian dimensions), probes it through
# the Arrow seam, and the oracle recomputes the expected dimensions
# arithmetically. A real corpus's dimension/aspect filters run exactly
# this pass before any pixel ever decodes.
# ---------------------------------------------------------------------------

def _jpeg_header_probe(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.multimodal import extract_media_features

    def be16(c):
        return F.unhex(F.lpad(F.hex(c), 4, "0"))

    d = _t(spark, sf, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    ln = F.octet_length(raw).cast("long")
    h = 1 + ln % 311
    w = 1 + ln % 499
    app0 = (b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00"
            b"\x00\x48\x00\x48\x00\x00")
    sof0_tail = b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    payload = F.concat(
        F.lit(b"\xff\xd8"), F.lit(app0),
        F.lit(b"\xff\xfe"), be16(ln + 2), raw,          # COM: skipped
        F.lit(b"\xff\xc0\x00\x11\x08"), be16(h), be16(w),
        F.lit(sof0_tail),
        F.lit(b"\xff\xd9"))
    binary_df = d.select("doc_id", payload.alias("payload"))
    return (extract_media_features(binary_df)
            .select("doc_id", "mime_detected", "byte_len", "width",
                    "height", "channels")
            .transform(_sorted1, "doc_id"))


register(
    "jpeg_header_probe",
    _jpeg_header_probe,
    """
WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS ln
           FROM documents)
SELECT doc_id,
       'image/jpeg' AS mime_detected,
       45 + ln AS byte_len,
       1 + ln % 499 AS width,
       1 + ln % 311 AS height,
       CAST(3 AS BIGINT) AS channels
FROM b ORDER BY doc_id
""",
    doc="Real JPEG marker-segment walk: dimensions/components probed "
        "from the SOF0 frame header of a genuine JVM-built segment "
        "stream (variable-length COM exercises skip-by-length), "
        "verified against arithmetic SQL; entropy decode stays an "
        "explicit stub.",
)


# ---------------------------------------------------------------------------
# URL / domain keying (operators/urls.py). The fixture has no URL
# column, so both queries synthesize one deterministically from
# (source, doc_id) — five shapes covering subdomains, explicit ports,
# query strings, uppercase hosts and multi-label public suffixes — and
# then PARSE it back with the real machinery (Spark parse_url +
# registrable-domain label logic), which the oracle re-derives with
# portable regexes. The parsing is the operator under test; the
# synthesis is just a deterministic stand-in for a crawl's url column.
# ---------------------------------------------------------------------------

def _synth_url_spark() -> Column:
    sid = F.col("source")
    did = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 5
    return (F.when(v == 0, F.concat(F.lit("https://www."), sid,
                                    F.lit(".com/articles/"), did))
             .when(v == 1, F.concat(F.lit("http://blog."), sid,
                                    F.lit(".co.uk/post?id="), did))
             .when(v == 2, F.concat(F.lit("https://cdn."), sid,
                                    F.lit(".org:8443/assets/"), did,
                                    F.lit(".html")))
             .when(v == 3, F.concat(F.lit("https://"), sid,
                                    F.lit(".com.pe/x/"), did))
             .otherwise(F.concat(F.lit("http://"), F.upper(sid),
                                 F.lit(".net/p/"), did)))


_SYNTH_URL_SQL = """
CASE doc_id % 5
  WHEN 0 THEN 'https://www.' || source || '.com/articles/'
              || CAST(doc_id AS VARCHAR)
  WHEN 1 THEN 'http://blog.' || source || '.co.uk/post?id='
              || CAST(doc_id AS VARCHAR)
  WHEN 2 THEN 'https://cdn.' || source || '.org:8443/assets/'
              || CAST(doc_id AS VARCHAR) || '.html'
  WHEN 3 THEN 'https://' || source || '.com.pe/x/'
              || CAST(doc_id AS VARCHAR)
  ELSE 'http://' || upper(source) || '.net/p/' || CAST(doc_id AS VARCHAR)
END"""

#: DuckDB mirror of urls.url_host / registrable_domain.
_DUCK_HOST = (r"lower(regexp_extract(url,"
              r" '://(?:[^/@?#]*@)?(\[[^\]]*\]|[^/:?#]+)', 1))")


def _duck_domain(host: str) -> str:
    # Generated from the same PSL rule tables as the Spark expression —
    # oracle and engine cannot drift (operators/urls.duck_domain_sql).
    from .operators.urls import duck_domain_sql
    return duck_domain_sql(host)


def _url_host_extract(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.urls import with_url_parts
    d = _t(spark, sf, "documents")
    base = d.select("doc_id", _synth_url_spark().alias("url"))
    return (with_url_parts(base)
            .select("doc_id", "url", "host", "port", "path",
                    "query_string", "domain")
            .transform(_sorted1, "doc_id"))


register(
    "url_host_extract",
    _url_host_extract,
    rf"""
WITH u AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents)
SELECT doc_id, url,
       {_DUCK_HOST} AS host,
       CAST(nullif(regexp_extract(url,
                '://(?:[^/@?#]*@)?(?:\[[^\]]*\]|[^/:?#]*):(\d+)', 1), '')
            AS INT) AS port,
       nullif(regexp_extract(url, '://[^/?#]*(/[^?#]*)', 1), '') AS path,
       nullif(regexp_extract(url, '\?([^#]*)', 1), '') AS query_string,
       {_duck_domain(_DUCK_HOST)} AS domain
FROM u ORDER BY doc_id
""",
    doc="URL parsing primitive: host (lowercased, port/userinfo "
        "stripped), explicit port, path, query string and registrable "
        "domain (multi-label public-suffix aware) — Spark parse_url + "
        "label logic vs portable regex re-derivation, fully narrow.",
)


# ---------------------------------------------------------------------------
# Per-domain curation datasheet: the mixing/dedup summary a crawl
# pipeline publishes per site — volume, exact-dup structure within the
# domain, cross-domain contamination (texts that also appear under
# another domain), and token share against the corpus total.
#
# Scale shape: one fact-fact shuffle join keyed by text hash (the
# per-hash domain-spread table is corpus-sized in the worst case and
# therefore NOT broadcast — AQE may still elect broadcast at small sf),
# group-bys with map-side combine everywhere else, and the corpus token
# total rides in as a broadcast 1-row frame.
# ---------------------------------------------------------------------------

def _domain_dedup_datasheet(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup_fuzzy import canonical_text
    from .operators.text import BPE_ISH_PATTERN
    from .operators.urls import registrable_domain, url_host

    from .operators.spread import fanout_by

    d = _t(spark, sf, "documents")
    # r12: the url-parse + canonical-md5 + token-count regex projection
    # fed THREE consumers (spread, totals, the join's probe side), each
    # re-running it on the single-task bench scan. Spread to core width
    # and persist so it runs once, in parallel (same cache-lifetime
    # contract as the LSH shingle frames).
    base = fanout_by(d, "doc_id").select(
        registrable_domain(url_host(_synth_url_spark())).alias("domain"),
        F.md5(canonical_text(F.col("text"))).alias("h"),
        F.regexp_count(F.col("text"),
                       F.lit(BPE_ISH_PATTERN)).cast("long")
         .alias("n_tokens")).persist()
    spread = (base.groupBy("h")
                  .agg(F.count_distinct("domain").alias("n_domains")))
    totals = base.agg(F.sum("n_tokens").alias("_total"))
    return (base.join(spread, "h")
                .groupBy("domain")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.count_distinct("h").alias("n_unique"),
                     F.sum("n_tokens").alias("n_tokens"),
                     F.sum(F.when(F.col("n_domains") > 1, 1)
                            .otherwise(0)).alias("n_cross_domain_dup"))
                .crossJoin(F.broadcast(totals))
                .select("domain", "n_docs", "n_unique",
                        ((F.col("n_docs") - F.col("n_unique"))
                         / F.col("n_docs")).alias("within_dup_rate"),
                        "n_tokens",
                        (F.col("n_tokens") / F.col("_total"))
                         .alias("token_share"),
                        "n_cross_domain_dup")
                .transform(_sorted1, "domain"))


register(
    "domain_dedup_datasheet",
    _domain_dedup_datasheet,
    rf"""
WITH u AS (SELECT doc_id, text, {_SYNTH_URL_SQL} AS url FROM documents),
b AS (SELECT {_duck_domain(_DUCK_HOST)} AS domain,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
             CAST(len(regexp_extract_all(text,
                 '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\s]'))
               AS BIGINT) AS n_tokens
      FROM u),
spread AS (SELECT h, COUNT(DISTINCT domain) AS n_domains
           FROM b GROUP BY h)
SELECT domain, COUNT(*) AS n_docs,
       COUNT(DISTINCT b.h) AS n_unique,
       (COUNT(*) - COUNT(DISTINCT b.h)) / COUNT(*) AS within_dup_rate,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       SUM(n_tokens) / (SELECT SUM(n_tokens) FROM b) AS token_share,
       CAST(SUM(CASE WHEN n_domains > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_domain_dup
FROM b JOIN spread USING (h)
GROUP BY domain ORDER BY domain
""",
    doc="Per-domain curation datasheet over URL-keyed documents: "
        "volume, within-domain exact-dup rate, cross-domain duplicate "
        "count, token share of corpus — the per-site mixing/blocklist "
        "evidence a crawl pipeline publishes.",
)


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: the tokenizer-design datasheet row — what
# share of all corpus tokens the top-k most frequent terms cover, at
# k ∈ {100, 1000, 10000} (clamped to the actual vocabulary size). The
# Zipf reality this measures decides vocab budgets: if 10k terms cover
# 99%, a bigger vocab buys almost nothing. Exact integer counts; the
# one unpartitioned window runs over the VOCAB-sized frame (bounded by
# distinct terms, not corpus — same rationale as waterfill), and the
# ratio is a single final double division.
# ---------------------------------------------------------------------------

def _vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    from .operators.text import tokens
    d = _t(spark, sf, "documents")
    tc = (d.select(F.explode(tokens(F.col("text"))).alias("term"))
           .filter(F.col("term") != "")
           .groupBy("term").agg(F.count(F.lit(1)).alias("cnt")))
    w = (Window.orderBy(F.desc("cnt"), F.asc("term"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = tc.select(
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("term")))
         .alias("rnk"),
        F.sum("cnt").over(w).alias("cum"))
    tot = tc.agg(F.sum("cnt").alias("total_tokens"),
                 F.count(F.lit(1)).alias("n_vocab"))
    ks = spark.range(0, 3).select(
        F.element_at(F.array(F.lit(100), F.lit(1000), F.lit(10000)),
                     (F.col("id") + 1).cast("int")).alias("k"))
    return (ks.crossJoin(F.broadcast(tot))
              .withColumn("rnk", F.least(F.col("k"),
                                         F.col("n_vocab")).cast("int"))
              .join(ranked, "rnk")
              .select("k", "n_vocab", "total_tokens",
                      F.col("cum").alias("covered_tokens"),
                      (F.col("cum").cast("double")
                       / F.col("total_tokens").cast("double"))
                       .alias("coverage_ratio"))
              .orderBy("k"))


register(
    "vocab_coverage_curve",
    _vocab_coverage,
    r"""
WITH tc AS (
  SELECT term, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents)
  WHERE term <> '' GROUP BY term),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rnk,
         SUM(cnt) OVER (ORDER BY cnt DESC, term
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
  FROM tc),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens,
               COUNT(*) AS n_vocab FROM tc),
ks AS (SELECT unnest([100, 1000, 10000]) AS k)
SELECT CAST(ks.k AS INT) AS k, t.n_vocab, t.total_tokens,
       CAST(r.cum AS BIGINT) AS covered_tokens,
       CAST(r.cum AS DOUBLE) / CAST(t.total_tokens AS DOUBLE)
         AS coverage_ratio
FROM ks, tot t
JOIN ranked r ON r.rnk = least(ks.k, t.n_vocab)
ORDER BY k
""",
    doc="Vocabulary coverage at top-k (100/1k/10k, clamped to vocab "
        "size): exact cumulative token share of the most frequent "
        "terms — the Zipf datasheet that sizes tokenizer vocabularies.",
)


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth: cumulative distinct-vocabulary size at
# decile checkpoints of the doc_id-ordered token stream — the companion
# datasheet to vocab_coverage_curve (which fixes the corpus and varies
# vocab rank; this fixes the vocab rule and varies corpus size). The
# practical read: where the curve flattens, more same-distribution data
# stops buying new vocabulary (data-constrained scaling's raw signal).
#
# Scale shape: a term contributes vocabulary exactly once, at its FIRST
# document — min(doc_id) per term is one combinable agg, no per-prefix
# recount. Both running sums (tokens, new terms) use the same blocked
# two-pass cumsum as systematic_weighted_sample (block window + tiny
# offset broadcast, no global single-task window); the decile selector
# is a 10-row broadcast inequality join. Integer arithmetic throughout.
# ---------------------------------------------------------------------------

_HEAPS_BLOCK = 1024


def _heaps_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window
    from .operators.text import tokens as _tok
    d = _t(spark, sf, "documents")
    per_doc = d.select(
        "doc_id",
        F.size(F.filter(_tok(F.col("text")), lambda t: t != ""))
         .cast("long").alias("n_tok"),
        F.floor(F.col("doc_id") / _HEAPS_BLOCK).alias("_blk"))
    terms = (d.select("doc_id", F.explode(_tok(F.col("text"))).alias("term"))
              .where(F.col("term") != ""))
    first = terms.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    new_terms = (first.groupBy("first_doc")
                      .agg(F.count(F.lit(1)).alias("n_new"))
                      .withColumnRenamed("first_doc", "doc_id"))
    docs = (per_doc.join(new_terms, "doc_id", "left")
                   .select("doc_id", "_blk", "n_tok",
                           F.coalesce("n_new", F.lit(0)).alias("n_new")))
    win = (Window.partitionBy("_blk").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    within = (docs.withColumn("_ct_in", F.sum("n_tok").over(win))
                  .withColumn("_cv_in", F.sum("n_new").over(win)))
    bsums = docs.groupBy("_blk").agg(F.sum("n_tok").alias("_bt"),
                                     F.sum("n_new").alias("_bv"))
    owin = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bsums.select(
        "_blk",
        F.coalesce(F.sum("_bt").over(owin), F.lit(0)).alias("_ot"),
        F.coalesce(F.sum("_bv").over(owin), F.lit(0)).alias("_ov"))
    total = docs.agg(F.sum("n_tok").cast("long").alias("_total"))
    cum = (within.join(F.broadcast(offsets), "_blk")
                 .select("doc_id",
                         (F.col("_ot") + F.col("_ct_in")).cast("long")
                         .alias("cum_tokens"),
                         (F.col("_ov") + F.col("_cv_in")).cast("long")
                         .alias("cum_vocab")))
    deciles = (spark.range(1, 11)
                    .select(F.col("id").cast("int").alias("decile"))
                    .crossJoin(F.broadcast(total))
                    .select("decile",
                            F.expr("(_total * decile) div 10")
                             .alias("checkpoint_tokens")))
    last = (cum.join(F.broadcast(deciles),
                     F.col("cum_tokens") <= F.col("checkpoint_tokens"))
               .groupBy("decile", "checkpoint_tokens")
               .agg(F.max("doc_id").alias("_last_doc")))
    return (last.join(cum, last["_last_doc"] == cum["doc_id"])
                .select("decile", "checkpoint_tokens",
                        F.col("cum_tokens").alias("tokens_at"),
                        F.col("cum_vocab").alias("vocab_size"),
                        (F.col("cum_vocab") * F.lit(1000.0)
                         / F.col("cum_tokens")).alias("vocab_per_kilotoken"))
                .transform(_sorted1, "decile"))


register(
    "heaps_vocab_growth",
    _heaps_vocab_growth,
    f"""
WITH pd AS (
  SELECT doc_id,
         CAST(len(list_filter({_DUCK_TOKENS}, x -> x <> '')) AS BIGINT)
           AS n_tok
  FROM documents),
tm AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents),
fst AS (SELECT term, MIN(doc_id) AS first_doc FROM tm
        WHERE term <> '' GROUP BY term),
nw AS (SELECT first_doc AS doc_id, COUNT(*) AS n_new FROM fst GROUP BY 1),
c AS (
  SELECT pd.doc_id,
         CAST(SUM(pd.n_tok) OVER (ORDER BY pd.doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         CAST(SUM(COALESCE(nw.n_new, 0)) OVER (ORDER BY pd.doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
  FROM pd LEFT JOIN nw USING (doc_id)),
t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total FROM pd),
dc AS (SELECT CAST(d.range AS INT) AS decile,
              (t.total * d.range) // 10 AS checkpoint_tokens
       FROM range(1, 11) d, t),
sel AS (SELECT dc.decile, dc.checkpoint_tokens, MAX(c.doc_id) AS last_doc
        FROM dc JOIN c ON c.cum_tokens <= dc.checkpoint_tokens
        GROUP BY 1, 2)
SELECT s.decile, s.checkpoint_tokens, c.cum_tokens AS tokens_at,
       c.cum_vocab AS vocab_size,
       c.cum_vocab * 1000.0 / c.cum_tokens AS vocab_per_kilotoken
FROM sel s JOIN c ON c.doc_id = s.last_doc
ORDER BY s.decile
""",
    doc="Heaps-law vocabulary growth at token-stream deciles: "
        "first-occurrence agg per term + blocked two-pass cumsums; the "
        "decile selector is a 10-row broadcast inequality join.",
)


# ---------------------------------------------------------------------------
# Sorted-neighborhood record linkage (SNM, Hernández & Stolfo 1995):
# the third blocking family next to LSH banding (minhash_dedup_pairs)
# and key blocking (fuzzy_part_match). Sort the dictionary by the match
# key, compare only records within a fixed window w of the sort order —
# candidates are N*(w-1) by construction, robust to the key-blocking
# failure mode (a typo in the blocking key exiles the record from its
# block; in sort order it usually stays adjacent). same_block flags
# whether key blocking would have surfaced each SNM pair — the recall
# comparison between the two methods, as a datasheet.
#
# Scale shape: the total order comes from add_row_id (range-partitioned
# two-pass id, no global window); the window join is an EQUI-join on
# rn_b = rn_a + off over the exploded offsets 1..w-1, so it shuffles on
# an integer key instead of an inequality. Levenshtein runs on the
# N*(w-1) candidates only.
# ---------------------------------------------------------------------------

_SNM_W = 4        # window width: pair with the next w-1 names in order
_SNM_MAXD = 4     # adjudication threshold (same as fuzzy_part_match)


def _snm_part_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import add_row_id
    names = _t(spark, sf, "part").select("p_name").distinct()
    seq = add_row_id(names, ["p_name"], name="rn")
    offs = spark.range(1, _SNM_W).select(F.col("id").alias("_off"))
    a = seq.select(F.col("p_name").alias("name_a"), F.col("rn").alias("_ra"))
    b = seq.select(F.col("p_name").alias("name_b"), F.col("rn").alias("_rb"))
    cand = (a.crossJoin(F.broadcast(offs))
             .withColumn("_rb", F.col("_ra") + F.col("_off"))
             .join(b, "_rb"))
    return (cand.select(
                "name_a", "name_b", F.col("_off").cast("int").alias("gap"),
                F.levenshtein("name_a", "name_b").alias("dist"),
                (F.expr("split_part(name_a, ' ', 2)")
                 == F.expr("split_part(name_b, ' ', 2)")).alias("same_block"))
                .where(F.col("dist") <= _SNM_MAXD)
                .transform(_sorted1, "name_a", "name_b"))


register(
    "snm_part_pairs",
    _snm_part_pairs,
    f"""
WITH n AS (SELECT DISTINCT p_name FROM part),
s AS (SELECT p_name, ROW_NUMBER() OVER (ORDER BY p_name) AS rn FROM n),
cand AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         CAST(b.rn - a.rn AS INT) AS gap
  FROM s a JOIN s b ON b.rn > a.rn AND b.rn < a.rn + {_SNM_W})
SELECT name_a, name_b, gap,
       CAST(levenshtein(name_a, name_b) AS INT) AS dist,
       split_part(name_a, ' ', 2) = split_part(name_b, ' ', 2) AS same_block
FROM cand WHERE levenshtein(name_a, name_b) <= {_SNM_MAXD}
ORDER BY name_a, name_b
""",
    doc="Sorted-neighborhood record linkage over the part-name "
        "dictionary: two-pass global sort ids, equi-join on rank "
        "offsets 1..w-1, Levenshtein adjudication, with a same-block "
        "flag comparing SNM recall against key blocking.",
)


# ---------------------------------------------------------------------------
# REAL JPEG entropy decode roundtrip — the compressed-image half of the
# media seam, value-pinned. Each document becomes a genuine baseline-
# sequential JPEG (operators/jpegcodec.encode_baseline_gray: real FDCT,
# quantization, Annex-K Huffman coding, byte stuffing; even doc_ids add
# a restart interval so the RSTn + DC-predictor-reset path is inside the
# hashed data, not just pytest): a 16x16 grayscale image of four flat
# 8x8 blocks whose values derive from doc_id. The real decoder
# (marker walk -> DHT canonical Huffman -> bit unstuffing -> DC-diff +
# AC run-length decode -> dequant -> IDCT -> level shift) recovers the
# pixels EXACTLY — the DC basis is constant, so flat blocks survive the
# float transform pair bit-exactly — and DuckDB recomputes sum/min/max
# arithmetically from doc_id. Any bug anywhere in the entropy layer
# (table reconstruction, stuffing, predictor chains, EOB handling)
# breaks the value hash.
#
# Scale shape: two Arrow crossings (encode, decode), zero shuffles
# before the final doc_id sort; pure per-row work, embarrassingly
# parallel — the partition-sizing note in operators/multimodal applies.
# ---------------------------------------------------------------------------

def _jpeg_decode_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .operators.jpegcodec import decode_baseline, encode_baseline_gray

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def enc(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                px = np.zeros((16, 16), dtype=np.uint8)
                for k in range(4):
                    v = (did * 31 + 97 * k) % 256
                    by, bx = divmod(k, 2)
                    px[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = v
                payloads.append(encode_baseline_gray(
                    px, restart_interval=2 if did % 2 == 0 else 0))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    def dec(it):
        for pdf in it:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"),
                              pdf["payload"]):
                r = decode_baseline(bytes(p))
                px = r["pixels"].astype("int64")
                rows.append({"doc_id": int(did),
                             "out_w": r["width"], "out_h": r["height"],
                             "pix_sum": int(px.sum()),
                             "pix_min": int(px.min()),
                             "pix_max": int(px.max())})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(enc, "doc_id long, payload binary")
               .mapInPandas(dec, "doc_id long, out_w long, out_h long,"
                                 " pix_sum long, pix_min long,"
                                 " pix_max long")
               .transform(_sorted1, "doc_id"))


register(
    "jpeg_decode_roundtrip",
    _jpeg_decode_roundtrip,
    """
WITH v AS (
  SELECT doc_id,
         (doc_id * 31 +   0) % 256 AS v0,
         (doc_id * 31 +  97) % 256 AS v1,
         (doc_id * 31 + 194) % 256 AS v2,
         (doc_id * 31 + 291) % 256 AS v3
  FROM documents)
SELECT doc_id,
       CAST(16 AS BIGINT) AS out_w,
       CAST(16 AS BIGINT) AS out_h,
       CAST(64 * (v0 + v1 + v2 + v3) AS BIGINT) AS pix_sum,
       CAST(LEAST(v0, v1, v2, v3) AS BIGINT) AS pix_min,
       CAST(GREATEST(v0, v1, v2, v3) AS BIGINT) AS pix_max
FROM v ORDER BY doc_id
""",
    doc="Real baseline-JPEG entropy decode roundtrip: genuine "
        "FDCT/Huffman/stuffed streams (restart markers on even ids) "
        "built per document, decoded by the real T.81 entropy layer "
        "(jpegcodec.decode_baseline), pixel sum/min/max hash-verified "
        "against doc_id arithmetic — flat blocks survive the "
        "transform pair bit-exactly.",
)


# ---------------------------------------------------------------------------
# ISO-BMFF (MP4) container probe — the video half of the media-metadata
# seam, value-pinned like jpeg_header_probe. Each document's bytes are
# framed JVM-side into a GENUINE box tree (ftyp; a variable-length mdat
# carrying the text FIRST, so the probe's skip-by-size logic is
# exercised over real payload bytes before moov is found — the common
# non-faststart layout; then moov > mvhd + trak > tkhd with computed
# big-endian timescale/duration and 16.16 fixed-point dimensions), the
# real box walker (operators/multimodal.probe_mp4: 32/64-bit sizes,
# container recursion, v0/v1 headers) probes it through the Arrow seam,
# and DuckDB recomputes every field arithmetically from the text
# length. Sample-data decode (H.264) stays honestly stubbed — this is
# the duration/aspect filter pass a video pipeline runs on every clip.
# ---------------------------------------------------------------------------

def _mp4_box_probe(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.multimodal import probe_mp4

    import pandas as pd

    def be32(c):
        def pair(x):
            return F.lpad(F.hex(x % 256), 2, "0")
        return F.unhex(F.concat(pair((c / 16777216).cast("long")),
                                pair((c / 65536).cast("long")),
                                pair((c / 256).cast("long")), pair(c)))

    d = _t(spark, sf, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    ln = F.octet_length(raw).cast("long")
    dur = ln * 3
    w = 1 + ln % 640
    h = 1 + ln % 480
    ftyp = b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00"
    mdat = F.concat(be32(ln + 8), F.lit(b"mdat"), raw)
    mvhd = F.concat(
        F.lit(b"\x00\x00\x00\x6cmvhd" + b"\x00" * 12),   # ver/flags,times
        be32(F.lit(600)), be32(dur),                      # timescale, dur
        F.lit(b"\x00\x01\x00\x00\x01\x00" + b"\x00" * 10  # rate, volume
              + b"\x00" * 36 + b"\x00" * 24               # matrix, predef
              + b"\x00\x00\x00\x02"))                     # next track id
    tkhd = F.concat(
        F.lit(b"\x00\x00\x00\x5ctkhd" + b"\x00\x00\x00\x07"
              + b"\x00" * 8 + b"\x00\x00\x00\x01" + b"\x00" * 4),
        be32(dur),
        F.lit(b"\x00" * 8 + b"\x00" * 8 + b"\x00" * 36),  # layer..matrix
        be32(w * 65536), be32(h * 65536))
    moov = F.concat(F.lit(b"\x00\x00\x00\xd8moov"), mvhd,
                    F.lit(b"\x00\x00\x00\x64trak"), tkhd)
    payload = F.concat(F.lit(ftyp), mdat, moov)
    src = (d.select("doc_id", payload.alias("payload"))
            .repartition(spark.sparkContext.defaultParallelism))

    def probe(it):
        for pdf in it:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"),
                              pdf["payload"]):
                r = probe_mp4(bytes(p))
                rows.append({"doc_id": int(did), "brand": r["brand"],
                             "timescale": r["timescale"],
                             "duration_ms": r["duration_ms"],
                             "n_tracks": r["n_tracks"],
                             "width": r["width"], "height": r["height"],
                             "byte_len": r["byte_len"]})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(probe, "doc_id long, brand string,"
                                   " timescale long, duration_ms long,"
                                   " n_tracks long, width long,"
                                   " height long, byte_len long")
               .transform(_sorted1, "doc_id"))


register(
    "mp4_box_probe",
    _mp4_box_probe,
    """
WITH b AS (SELECT doc_id,
                  CAST(octet_length(encode(text)) AS BIGINT) AS ln
           FROM documents)
SELECT doc_id,
       'isom' AS brand,
       CAST(600 AS BIGINT) AS timescale,
       CAST(ln * 3 * 1000 // 600 AS BIGINT) AS duration_ms,
       CAST(1 AS BIGINT) AS n_tracks,
       CAST(1 + ln % 640 AS BIGINT) AS width,
       CAST(1 + ln % 480 AS BIGINT) AS height,
       CAST(16 + (ln + 8) + 216 AS BIGINT) AS byte_len
FROM b ORDER BY doc_id
""",
    doc="Real ISO-BMFF box-tree probe: genuine ftyp/mdat/moov "
        "structures (mdat-first layout, computed 16.16 dimensions) "
        "built JVM-side per document, walked by the real container "
        "parser through the Arrow seam, every field hash-verified "
        "against text-length arithmetic.",
)


# ---------------------------------------------------------------------------
# Frame-level audio features — the step AFTER decode in an audio
# curation pipeline (energy contour, VAD-style voiced-frame gating,
# zero-crossing noisiness), value-pinned at the sample level. Same
# container construction as wav_decode_roundtrip (text bytes as 16-bit
# mono PCM in a genuine RIFF/WAVE), but the crossing decodes to RAW
# SAMPLES (multimodal.wav_samples) and runs the integer frame math
# (pcm_frame_features: Σx²//frame per 64-sample window, first-peak
# index, energy-gate count, sign-transition crossings). DuckDB
# recomputes every feature from the same little-endian sample list, so
# a bug in framing, the tail-drop rule, argmax tie-breaking, or the
# signedness decode breaks the value hash.
# ---------------------------------------------------------------------------

def _wav_frame_energy(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.multimodal import pcm_frame_features, wav_samples

    def le32(c):
        def pair(x):
            return F.lpad(F.hex(x % 256), 2, "0")
        return F.unhex(F.concat(pair(c), pair((c / 256).cast("long")),
                                pair((c / 65536).cast("long")),
                                pair((c / 16777216).cast("long"))))

    d = _t(spark, sf, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    data = F.when(F.octet_length(raw) % 2 == 1,
                  F.concat(raw, F.lit(b"\x00"))).otherwise(raw)
    dlen = F.octet_length(data).cast("long")
    fmt = (b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
           + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
           + (2).to_bytes(2, "little") + (16).to_bytes(2, "little"))
    payload = F.concat(F.lit(b"RIFF"), le32(dlen + 36), F.lit(b"WAVE"),
                       F.lit(fmt), F.lit(b"data"), le32(dlen), data)
    src = (d.select("doc_id", payload.alias("payload"))
            .repartition(spark.sparkContext.defaultParallelism))

    def feats(it):
        for pdf in it:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"),
                              pdf["payload"]):
                x = wav_samples(bytes(p))[:, 0]
                r = pcm_frame_features(x, frame=64,
                                       voiced_threshold=1_000_000)
                r["doc_id"] = int(did)
                rows.append(r)
            yield pd.DataFrame(rows)

    return (src.mapInPandas(feats, "n_samples long, n_frames long,"
                                   " zero_crossings long,"
                                   " max_energy long, peak_frame long,"
                                   " voiced_frames long, doc_id long")
               .select("doc_id", "n_samples", "n_frames", "max_energy",
                       "peak_frame", "voiced_frames", "zero_crossings")
               .transform(_sorted1, "doc_id"))


register(
    "wav_frame_energy",
    _wav_frame_energy,
    r"""
WITH b AS (SELECT doc_id, hex(encode(text)) AS hx0 FROM documents),
p AS (SELECT doc_id,
             CASE WHEN length(hx0) % 4 = 0 THEN hx0
                  ELSE hx0 || '00' END AS hx
      FROM b),
s AS (SELECT doc_id, CAST(length(hx) // 4 AS BIGINT) AS n,
             list_transform(range(0, length(hx) // 4), i ->
               ('0x' || substr(hx, CAST(4 * i + 1 AS INT), 2))::BIGINT
               + 256 * ('0x' || substr(hx, CAST(4 * i + 3 AS INT), 2))::BIGINT)
               AS raw
      FROM p),
v AS (SELECT doc_id, n,
             list_transform(raw, x -> CASE WHEN x >= 32768
                                           THEN x - 65536 ELSE x END) AS x
      FROM s),
e AS (SELECT doc_id, n, x, n // 64 AS nf,
             list_transform(range(0, n // 64), f ->
               list_sum(list_transform(range(0, 64), j ->
                 x[CAST(64 * f + j + 1 AS INT)]
                 * x[CAST(64 * f + j + 1 AS INT)])) // 64) AS en
      FROM v)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(nf AS BIGINT) AS n_frames,
       CASE WHEN nf = 0 THEN NULL
            ELSE CAST(list_max(en) AS BIGINT) END AS max_energy,
       CASE WHEN nf = 0 THEN NULL
            ELSE CAST(list_position(en, list_max(en)) - 1 AS BIGINT)
            END AS peak_frame,
       CAST(COALESCE(list_sum(list_transform(en, q ->
              CASE WHEN q > 1000000 THEN 1 ELSE 0 END)), 0) AS BIGINT)
         AS voiced_frames,
       CAST(COALESCE(list_sum(list_transform(range(1, n), i ->
              CASE WHEN (x[CAST(i AS INT)] < 0)
                        != (x[CAST(i + 1 AS INT)] < 0)
                   THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
FROM e ORDER BY doc_id
""",
    doc="Frame-level PCM features through the real WAV sample decoder: "
        "64-sample mean-square energy windows (tail dropped), first-"
        "peak frame, energy-gate voiced-frame count and sign-transition "
        "zero crossings — every value integer-exact against sample-"
        "level SQL over the same bytes.",
)


