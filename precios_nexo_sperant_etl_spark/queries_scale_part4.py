"""Scale-family queries, part file: media probes (MP4/MP3/H.264/WebM), preference/eval audits, lake ops, near-dup consensus, KN perplexity, FLAC/zstd, winnowing (registrations ~210-end).

Split from queries_scale.py at registration boundaries — see
queries_scale_common.py for why the split is positional.
"""

from .operators.spread import fanout
from .queries_scale_common import *  # noqa: F401,F403
from .queries_scale_part1 import (  # noqa: F401 — earlier-part helpers
    _ANN_QUERY_IDS, _ENP_PLANES, _ENP_THRESHOLD,
)

# ---------------------------------------------------------------------------
# Image near-duplicate detection via perceptual dHash — the visual
# analogue of MinHash dedup, run by every multimodal curation pipeline
# (re-encoded/lightly-edited images share gradient structure even when
# bytes differ). Each document synthesizes a genuine 18x16 BMP whose
# gray field derives from (doc_id % 200) base classes plus a per-doc
# single-pixel tweak; the REAL path is decode (bmp_pixels) -> 2x2 box
# sums -> 64 gradient-sign bits (dhash64) -> 4x16-bit LSH banding ->
# band-bucket equi-join -> Hamming<=6 verify via bit_count(xor). All
# integer, so DuckDB replays pixels, boxes, bits, bands, and distances.
#
# Scale shape: the pair search is BANDED like minhash_dedup_pairs —
# never all-pairs; candidates are one equi-join on (band_idx, band_val)
# and verification is two bit_count ops. At 100 TB the band join is the
# only shuffle and buckets stay bounded by visual-class sizes.
# ---------------------------------------------------------------------------

def _image_dhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .operators.multimodal import bmp_pixels, encode_bmp24

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    # One fused Python stage (guide §4): the old enc→hsh pair shipped
    # every BMP payload JVM→Python→JVM→Python; fusing keeps the
    # encode_bmp24 → bmp_pixels codec roundtrip per row (the seam under
    # test) while the synthetic pixel grids, box sums and dhash bits
    # are batched across the whole Arrow batch (same integer formulas,
    # pinned row-equal to the scalar helpers by the oracle). Isolated
    # 2.26 s → ~0.9 s.
    grid_y, grid_x = np.mgrid[0:16, 0:18]
    base_grid = 7 * grid_x + 13 * grid_y + grid_x * grid_y + 1

    def enc_hash(it):
        shifts = np.arange(32, dtype=np.int64)
        for pdf in it:
            dids = pdf["doc_id"].to_numpy().astype(np.int64)
            n = len(dids)
            b = dids % 200
            t = dids % 7
            G = ((b + 1)[:, None, None] * base_grid[None, :, :]) % 256
            hit = np.nonzero(t > 0)[0]
            G[hit, t[hit], t[hit]] = (G[hit, t[hit], t[hit]]
                                      + 40 * t[hit]) % 256
            boxes = np.empty((n, 8, 9), dtype=np.int64)
            for i in range(n):
                px = np.repeat(G[i].astype(np.uint8)[:, :, None], 3,
                               axis=2)
                g2 = bmp_pixels(encode_bmp24(px))[:, :, 0] \
                    .astype(np.int64)
                boxes[i] = g2.reshape(8, 2, 9, 2).sum(axis=(1, 3))
            bits = (boxes[:, :, 1:] > boxes[:, :, :-1]) \
                .reshape(n, 64).astype(np.int64)
            lo = (bits[:, :32] << shifts).sum(axis=1)
            hi = (bits[:, 32:] << shifts).sum(axis=1)
            yield pd.DataFrame({"doc_id": dids, "lo": lo, "hi": hi,
                                "base": b})

    hashes = src.mapInPandas(enc_hash, "doc_id long, lo long, hi long,"
                                       " base long")
    bands = hashes.select(
        "doc_id", "lo", "hi", "base",
        F.posexplode(F.array(
            F.col("lo") % 65536, (F.col("lo") / 65536).cast("long"),
            F.col("hi") % 65536, (F.col("hi") / 65536).cast("long")))
        .alias("band_idx", "band_val"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.lo").alias("lo_a"), F.col("a.hi").alias("hi_a"),
                    F.col("b.lo").alias("lo_b"), F.col("b.hi").alias("hi_b"),
                    (F.col("a.base") == F.col("b.base")).alias("same_base"))
            .distinct())
    return (cand.withColumn(
                "hamming",
                (F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
                 + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))))
                .cast("long"))
            .filter(F.col("hamming") <= 6)
            .select("doc_a", "doc_b", "hamming", "same_base")
            .transform(_sorted1, "doc_a", "doc_b"))


register(
    "image_dhash_neardup",
    _image_dhash_neardup,
    """
WITH grid AS (
  SELECT CAST(a.g AS BIGINT) AS x, CAST(b.g AS BIGINT) AS y
  FROM generate_series(0, 17) a(g), generate_series(0, 15) b(g)),
px AS (
  SELECT d.doc_id, d.doc_id % 200 AS base, grid.x, grid.y,
         CASE WHEN d.doc_id % 7 > 0 AND grid.y = d.doc_id % 7
                   AND grid.x = d.doc_id % 7
              THEN (((d.doc_id % 200 + 1) * (7 * grid.x + 13 * grid.y
                     + grid.x * grid.y + 1)) % 256
                    + 40 * (d.doc_id % 7)) % 256
              ELSE ((d.doc_id % 200 + 1) * (7 * grid.x + 13 * grid.y
                    + grid.x * grid.y + 1)) % 256 END AS v
  FROM documents d CROSS JOIN grid),
box AS (
  SELECT doc_id, base, y // 2 AS by, x // 2 AS bx, SUM(v) AS s
  FROM px GROUP BY doc_id, base, y // 2, x // 2),
bits AS (
  SELECT l.doc_id, l.base, l.by * 8 + l.bx AS i,
         CASE WHEN r.s > l.s THEN 1 ELSE 0 END AS bit
  FROM box l JOIN box r
    ON r.doc_id = l.doc_id AND r.by = l.by AND r.bx = l.bx + 1),
h AS (
  SELECT doc_id, base,
         SUM(CASE WHEN i < 32 THEN bit * (1::BIGINT << i) ELSE 0 END) AS lo,
         SUM(CASE WHEN i >= 32 THEN bit * (1::BIGINT << (i - 32))
                  ELSE 0 END) AS hi
  FROM bits GROUP BY doc_id, base),
bands AS (
  SELECT doc_id, base, lo, hi, t.g AS band_idx,
         CASE t.g WHEN 0 THEN lo % 65536 WHEN 1 THEN lo // 65536
                  WHEN 2 THEN hi % 65536 ELSE hi // 65536 END AS band_val
  FROM h CROSS JOIN generate_series(0, 3) t(g)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b,
         a.base = b.base AS same_base
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b))
            AS BIGINT) AS hamming,
       same_base
FROM cand
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 6
ORDER BY doc_a, doc_b
""",
    doc="Perceptual dHash image near-dup: real BMP decode -> integer "
        "2x2 box sums -> 64 gradient-sign bits -> 4x16-bit LSH bands "
        "-> bucket equi-join -> Hamming<=6 verify via bit_count(xor); "
        "pixels, hashes, bands, candidates, and distances all replayed "
        "by integer SQL. Banded like minhash — never all-pairs.",
)


# ---------------------------------------------------------------------------
# Blocklist screening via Aho-Corasick — the banned-phrase /
# contamination-marker pass every corpus runs before training. One
# automaton walk per document counts EVERY occurrence of every pattern
# (overlapping 'a a' hits, 'fast' nested inside 'fast table', matches
# crossing token boundaries) — the cases per-pattern replace() counting
# and tokenized lookups both miss. The oracle rescans every character
# position with substring compares, so the automaton's goto/fail/output
# machinery is value-pinned against the naive O(n*k) definition.
#
# Scale shape: the blocklist is dimension data compiled driver-side and
# captured by the Arrow closure (broadcast semantics); the scan is one
# narrow mapInPandas pass, no shuffle before the final sort. At 100 TB
# the automaton cost is O(text), independent of pattern count.
# Oracle bound: the position series is capped at 4096 >> the 577-char
# max of the synthetic documents (TESTDATA.md); the engine side has no
# such cap.
# ---------------------------------------------------------------------------

_BLOCKLIST = ("value", "fast", "fast table", "a a",
              "scan", "table", "le va", "row")


def _blocklist_screen(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.text import ac_count_all, build_aho_corasick

    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)
    pats = _BLOCKLIST

    def scan(it):
        ac = build_aho_corasick(list(pats))
        for pdf in it:
            rows = []
            for did, txt in zip(pdf["doc_id"].astype("int64"),
                                pdf["text"]):
                c = ac_count_all(ac, txt or "")
                rows.append({"doc_id": int(did),
                             **{f"n_{i}": c[i] for i in range(len(pats))},
                             "total": sum(c),
                             "n_patterns": sum(1 for v in c if v),
                             "blocked": any(c)})
            yield pd.DataFrame(rows)

    cols = ", ".join(f"n_{i} long" for i in range(len(pats)))
    return (src.mapInPandas(scan, f"doc_id long, {cols}, total long,"
                                  " n_patterns long, blocked boolean")
               .transform(_sorted1, "doc_id"))


register(
    "blocklist_screen",
    _blocklist_screen,
    f"""
WITH pos AS (
  SELECT d.doc_id, d.text, i.g AS i
  FROM documents d
  JOIN generate_series(1, 4096) i(g) ON i.g <= LENGTH(d.text)),
c AS (
  SELECT doc_id,
{chr(10).join(f"         SUM(CASE WHEN substr(text, i, {len(p)}) = '{p}'"
              f" THEN 1 ELSE 0 END) AS n_{i},"
              for i, p in enumerate(_BLOCKLIST))}
         0 AS _pad
  FROM pos GROUP BY doc_id)
SELECT doc_id,
{chr(10).join(f"       CAST(n_{i} AS BIGINT) AS n_{i}," for i in range(len(_BLOCKLIST)))}
       CAST({" + ".join(f"n_{i}" for i in range(len(_BLOCKLIST)))} AS BIGINT)
         AS total,
       CAST({" + ".join(f"CASE WHEN n_{i} > 0 THEN 1 ELSE 0 END"
                        for i in range(len(_BLOCKLIST)))} AS BIGINT)
         AS n_patterns,
       {" OR ".join(f"n_{i} > 0" for i in range(len(_BLOCKLIST)))} AS blocked
FROM c ORDER BY doc_id
""",
    doc="Aho-Corasick blocklist screening: one automaton walk counts "
        "all overlapping/nested/boundary-crossing occurrences of an "
        "8-pattern blocklist per document; the oracle rescans every "
        "character position with substring compares.",
)


# ---------------------------------------------------------------------------
# Randomized-response privacy audit — the classic local-DP mechanism
# (Warner 1965): each holder of a sensitive bit reports the truth with
# probability p = 3/4 and the flipped bit otherwise, giving plausible
# deniability (epsilon = ln(p/(1-p)) = ln 3); the aggregator debiases
# the noisy count as (obs - (1-p)n) / (2p-1). With p = 3/4 the
# estimator is exactly 2*obs - n/2, so est*1000 = 2000*obs - 500*n is
# an INTEGER — the whole mechanism, including the coin, the noisy
# counts, and the debiased estimate, is value-pinned with zero float
# hazard. The coin is a seeded hash of the row key (deterministic,
# replayable — the property an auditable DP pipeline needs anyway).
#
# Scale shape: one scan, one map-side-combinable agg per source; the
# coin and the flip are codegen Column arithmetic. No Python, no
# window, no second pass.
# ---------------------------------------------------------------------------

def _dp_randomized_response(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    truth = (F.col("n_chars") % 3 == 0).cast("long")
    coin = (F.col("doc_id") * 48271 + 11) % 100          # truth iff < 75
    reported = F.when(coin < 75, truth).otherwise(1 - truth)
    agg = (d.select("source", truth.alias("t"), reported.alias("r"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("t").alias("true_count"),
                F.sum("r").alias("reported_count")))
    est_milli = 2000 * F.col("reported_count") - 500 * F.col("n")
    return (agg.withColumn("est_milli", est_milli)
            .withColumn("abs_err_milli",
                        F.abs(est_milli - 1000 * F.col("true_count")))
            .transform(_sorted1, "source"))


register(
    "dp_randomized_response",
    _dp_randomized_response,
    """
WITH d AS (
  SELECT source,
         CASE WHEN n_chars % 3 = 0 THEN 1 ELSE 0 END AS t,
         CASE WHEN (doc_id * 48271 + 11) % 100 < 75
              THEN CASE WHEN n_chars % 3 = 0 THEN 1 ELSE 0 END
              ELSE CASE WHEN n_chars % 3 = 0 THEN 0 ELSE 1 END
         END AS r
  FROM documents),
a AS (
  SELECT source, COUNT(*) AS n, SUM(t) AS true_count,
         SUM(r) AS reported_count
  FROM d GROUP BY source)
SELECT source, CAST(n AS BIGINT) AS n,
       CAST(true_count AS BIGINT) AS true_count,
       CAST(reported_count AS BIGINT) AS reported_count,
       CAST(2000 * reported_count - 500 * n AS BIGINT) AS est_milli,
       CAST(ABS(2000 * reported_count - 500 * n - 1000 * true_count)
            AS BIGINT) AS abs_err_milli
FROM a ORDER BY source
""",
    doc="Warner randomized response (local DP, p=3/4, eps=ln 3): "
        "seeded deterministic coin, per-source noisy counts, and the "
        "exact-integer debiased estimate 2*obs - n/2 published in "
        "milli units — mechanism and estimator both value-pinned.",
)


# ---------------------------------------------------------------------------
# Unicode script-mix audit — multilingual curation needs per-document
# script composition: lang-id disagreement, mixed-script spoofing
# (Cyrillic 'а' inside Latin words), and CJK/Arabic segmentation
# routing all key off it. The fixture synthesizes genuinely mixed text
# per document (chr() runs from five non-Latin ranges appended to the
# real Latin text, counts derived from doc_id); counting is PURE Column
# regex over explicit codepoint ranges (identical semantics in Java
# regex and RE2, unlike \\p{Script=...} names), so the whole audit
# stays inside whole-stage codegen — no Python, no shuffle before the
# final sort.
# ---------------------------------------------------------------------------

_SCRIPT_RANGES = (
    ("latin", "[A-Za-z]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("cjk", "[一-鿿]"),
    ("arabic", "[؀-ۿ]"),
    ("hangul", "[가-힯]"),
)


def _unicode_script_mix(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select("doc_id", "text")
    did = F.col("doc_id")

    def pick(base: int, span: int) -> Column:
        # Spark's chr() is mod-256 Latin-1, so non-Latin codepoints
        # come from a literal-array lookup — still pure codegen
        return F.element_at(
            F.array(*[F.lit(chr(base + i)) for i in range(span)]),
            (did % span + 1).cast("int"))

    mixed = F.concat(
        F.substring("text", 1, 20),
        F.repeat(pick(1040, 32), (did % 5).cast("int")),
        F.repeat(pick(913, 24), (did % 4).cast("int")),
        F.repeat(pick(19968, 100), (did % 3).cast("int")),
        F.repeat(pick(1575, 10), (did % 4).cast("int")),
        F.repeat(pick(44032, 50), (did % 2).cast("int")))
    t = d.select("doc_id", mixed.alias("u"))
    counts = [F.regexp_count("u", F.lit(rx)).cast("long").alias(name)
              for name, rx in _SCRIPT_RANGES]
    t = t.select("doc_id", F.length("u").cast("long").alias("n_chars_u"),
                 *counts)
    names = [n for n, _ in _SCRIPT_RANGES]
    n_scripts = sum((F.col(n) > 0).cast("long") for n in names)
    top = F.greatest(*[F.col(n) for n in names])
    dominant = F.when(F.lit(False), F.lit(""))
    for n in names:                      # first-in-order wins ties
        dominant = dominant.when(F.col(n) == top, F.lit(n))
    return (t.withColumn("n_scripts", n_scripts.cast("long"))
            .withColumn("dominant", dominant)
            .withColumn("mixed_script", n_scripts >= 3)
            .transform(_sorted1, "doc_id"))


register(
    "unicode_script_mix",
    _unicode_script_mix,
    """
WITH t AS (
  SELECT doc_id,
         substr(text, 1, 20)
         || repeat(chr(CAST(1040 + doc_id % 32 AS INT)),
                   CAST(doc_id % 5 AS INT))
         || repeat(chr(CAST(913 + doc_id % 24 AS INT)),
                   CAST(doc_id % 4 AS INT))
         || repeat(chr(CAST(19968 + doc_id % 100 AS INT)),
                   CAST(doc_id % 3 AS INT))
         || repeat(chr(CAST(1575 + doc_id % 10 AS INT)),
                   CAST(doc_id % 4 AS INT))
         || repeat(chr(CAST(44032 + doc_id % 50 AS INT)),
                   CAST(doc_id % 2 AS INT)) AS u
  FROM documents),
c AS (
  SELECT doc_id, CAST(LENGTH(u) AS BIGINT) AS n_chars_u,
         CAST(len(regexp_extract_all(u, '[A-Za-z]')) AS BIGINT) AS latin,
         CAST(len(regexp_extract_all(u, '[Ѐ-ӿ]')) AS BIGINT)
           AS cyrillic,
         CAST(len(regexp_extract_all(u, '[Ͱ-Ͽ]')) AS BIGINT)
           AS greek,
         CAST(len(regexp_extract_all(u, '[一-鿿]')) AS BIGINT)
           AS cjk,
         CAST(len(regexp_extract_all(u, '[؀-ۿ]')) AS BIGINT)
           AS arabic,
         CAST(len(regexp_extract_all(u, '[가-힯]')) AS BIGINT)
           AS hangul
  FROM t)
SELECT doc_id, n_chars_u, latin, cyrillic, greek, cjk, arabic, hangul,
       CAST((latin > 0)::INT + (cyrillic > 0)::INT + (greek > 0)::INT
            + (cjk > 0)::INT + (arabic > 0)::INT + (hangul > 0)::INT
            AS BIGINT) AS n_scripts,
       CASE GREATEST(latin, cyrillic, greek, cjk, arabic, hangul)
         WHEN latin THEN 'latin' WHEN cyrillic THEN 'cyrillic'
         WHEN greek THEN 'greek' WHEN cjk THEN 'cjk'
         WHEN arabic THEN 'arabic' ELSE 'hangul' END AS dominant,
       (latin > 0)::INT + (cyrillic > 0)::INT + (greek > 0)::INT
         + (cjk > 0)::INT + (arabic > 0)::INT + (hangul > 0)::INT >= 3
         AS mixed_script
FROM c ORDER BY doc_id
""",
    doc="Unicode script-mix audit over synthesized mixed-script text: "
        "per-script codepoint-range counts (explicit ranges, engine-"
        "portable), script cardinality, tie-ordered dominant script, "
        "and a mixed-script spoofing flag — all codegen Column regex.",
)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN workhorse next to
# IVF and SQ8 (embedding_quantization_audit): the 64-dim embedding is
# split into 4 x 16-dim subspaces, each fitted with its own tiny
# k-means codebook (k=8, 2 Lloyd rounds, id-ordered init — the same
# exact-fold fit as the IVF coarse quantizer), and every vector is
# encoded as 4 code bytes. Published output is the INTEGER code per
# subspace per vector plus the per-code populations, so the entire
# fit+encode chain is value-pinned with no float publication; the
# oracle unrolls all four subspace fits CTE-by-CTE like the IVF/
# SemDeDup oracles.
#
# Scale shape: fits collect k x subdim doubles per round from a
# sample-sized table (memoized per sf); the encode pass is one scan
# with 4 argmin fold expressions — no shuffle before the final sort.
# At 100 TB the codes are what ships to the ANN serving tier (16 bytes
# per vector instead of 256).
# ---------------------------------------------------------------------------

_PQ_FIT_CACHE: dict[tuple, list] = {}
_PQ_M, _PQ_DIMS, _PQ_K, _PQ_ITER = 4, 16, 8, 2


def _pq_fit_all(spark: SparkSession, sf: str) -> list[list[list[float]]]:
    """All four subspace codebooks fitted with the Lloyd rounds FUSED
    across subspaces (per round, the four assigned frames are tagged
    with ``j * K + cell`` and reduced by ONE label_centroids job) and
    the fit-round ASSIGNMENT on the Arrow matmul gear — the k×dim fold
    tree costs seconds of Catalyst analysis per subspace per round,
    which dominated this query's construct wall (12.8s in BENCH_r08's
    detail; ~5s after). Groups are disjoint across tags, the per-group
    centroid recompute stays the id-ordered exact fold, and the
    assignments agree with the fold gear absent ulp-level distance
    ties (the same bet the driver-green SemDeDup queries take), so
    every centroid double is bit-identical to four independent
    kmeans_fit calls — pinned by
    tests/test_quality_sampling.py::test_pq_fused_fit_matches_independent.
    The oracle's unrolled per-subspace CTEs stay valid."""
    from .operators.similarity import assign_cells_arrow, label_centroids
    key = (sf, "pq_all")
    if key in _PQ_FIT_CACHE:
        return _PQ_FIT_CACHE[key]
    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    slices = [F.slice("embedding", j * _PQ_DIMS + 1, _PQ_DIMS)
              .alias(f"s{j}") for j in range(_PQ_M)]
    first = emb.orderBy("vec_id").limit(_PQ_K).select(*slices).collect()
    cents = [[list(r[f"s{j}"]) for r in first] for j in range(_PQ_M)]
    subs = [emb.select("vec_id",
                       F.slice("embedding", j * _PQ_DIMS + 1,
                               _PQ_DIMS).alias("embedding")).coalesce(4)
            for j in range(_PQ_M)]
    for _ in range(_PQ_ITER):
        tagged = None
        for j in range(_PQ_M):
            a = assign_cells_arrow(subs[j], cents[j],
                                   id_col="vec_id",
                                   vec_col="embedding",
                                   cell_col="__fit_cell")
            a = a.select("vec_id", "embedding",
                         (F.col("__fit_cell") + F.lit(j * _PQ_K))
                         .alias("__fit_key"))
            tagged = a if tagged is None else tagged.unionByName(a)
        means = label_centroids(tagged, vec_col="embedding",
                                id_col="vec_id",
                                group_col="__fit_key").collect()
        by_key: dict[int, dict[int, float]] = {}
        for r in means:
            by_key.setdefault(r["__fit_key"], {})[r["dim"]] = r["centroid"]
        cents = [
            [[by_key[j * _PQ_K + ci][d]
              for d in sorted(by_key[j * _PQ_K + ci])]
             if j * _PQ_K + ci in by_key else cents[j][ci]
             for ci in range(_PQ_K)]
            for j in range(_PQ_M)
        ]
    _PQ_FIT_CACHE[key] = cents
    return cents


def _pq_fit(spark: SparkSession, sf: str, j: int) -> list:
    return _pq_fit_all(spark, sf)[j]


def _pq_codes(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import assign_cells_fold
    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    out = emb
    for j in range(_PQ_M):
        cents = _pq_fit(spark, sf, j)
        out = (assign_cells_fold(
                   out.withColumn("_sub", F.slice("embedding",
                                                  j * _PQ_DIMS + 1,
                                                  _PQ_DIMS)),
                   cents, vec_col="_sub", cell_col=f"code{j}")
               .drop("_sub"))
    codes = [F.col(f"code{j}").cast("long").alias(f"code{j}")
             for j in range(_PQ_M)]
    return (out.select("vec_id", *codes)
            .withColumn("packed",
                        sum(F.col(f"code{j}") * (8 ** j)
                            for j in range(_PQ_M)).cast("long"))
            .transform(_sorted1, "vec_id"))


def _pq_sub_ctes(j: int) -> list[str]:
    a = j * _PQ_DIMS + 1
    ctes = [f"""sub{j} AS (
  SELECT vec_id, list_transform(range({a}, {a + _PQ_DIMS}),
                                i -> CAST(embedding[i] AS DOUBLE)) AS v
  FROM embeddings)"""]
    ctes.append(f"""c{j}_0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         v AS centroid
  FROM (SELECT vec_id, v FROM sub{j} ORDER BY vec_id LIMIT {_PQ_K}))""")

    def d2(v: str, c: str) -> str:
        return (f"{_duck_dot(v, v)} - 2.0 * {_duck_dot(v, c)}"
                f" + {_duck_dot(c, c)}")

    for i in range(_PQ_ITER + 1):
        ctes.append(f"""a{j}_{i + 1} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {d2('e.v', 'c.centroid')} ASC, c.cell ASC) AS rn
    FROM sub{j} e CROSS JOIN c{j}_{i} c) t WHERE rn = 1)""")
        if i < _PQ_ITER:
            ctes.append(f"""c{j}_{i + 1} AS (
  SELECT c.cell, COALESCE(n.centroid, c.centroid) AS centroid
  FROM c{j}_{i} c LEFT JOIN (
    SELECT cell, list(m ORDER BY dim) AS centroid FROM (
      SELECT cell, dim,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
                         (x, y) -> x + y) / len(vs) AS m
      FROM (SELECT cell, dim, list(val ORDER BY vec_id) AS vs
            FROM (SELECT cell, vec_id, unnest(v) AS val,
                         CAST(unnest(range(len(v))) AS INT) AS dim
                  FROM a{j}_{i + 1})
            GROUP BY cell, dim))
    GROUP BY cell) n ON n.cell = c.cell)""")
    return ctes


def _pq_oracle() -> str:
    ctes: list[str] = []
    for j in range(_PQ_M):
        ctes.extend(_pq_sub_ctes(j))
    final = [f"a{j}_{_PQ_ITER + 1}" for j in range(_PQ_M)]
    joins = " ".join(
        f"JOIN {final[j]} f{j} ON f{j}.vec_id = f0.vec_id"
        for j in range(1, _PQ_M))
    codes = ", ".join(f"CAST(f{j}.cell AS BIGINT) AS code{j}"
                      for j in range(_PQ_M))
    packed = " + ".join(f"f{j}.cell * {8 ** j}" for j in range(_PQ_M))
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT f0.vec_id, {codes}, CAST({packed} AS BIGINT) AS packed
FROM {final[0]} f0 {joins}
ORDER BY f0.vec_id
""")


register(
    "pq_quantization_codes",
    _pq_codes,
    _pq_oracle(),
    doc="Product quantization over 4x16-dim subspaces: per-subspace "
        "k=8 Lloyd fits (id-ordered init, exact double folds, "
        "empty-cell carry) and argmin encoding, published as integer "
        "codes + the packed 12-bit word per vector; the oracle unrolls "
        "all four subspace fits iteration by iteration.",
)


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (ADC) — how PQ codes are actually
# queried: per query vector, an 8-entry lookup table of exact
# (query-subvector -> centroid) squared distances per subspace, then
# every database vector is scored as the SUM OF 4 TABLE LOOKUPS on its
# code word — no decode, no per-vector float math beyond 4 adds. The
# LUT doubles are the same id-ordered exact folds as the fit, and the
# 4-term sum has a fixed association order, so the approximate
# distances (and therefore the ADC top-k ranking) are bit-reproducible
# and the oracle replays them from the unrolled subspace fits.
#
# Scale shape: LUTs are built driver-side from the memoized fits
# (k x m doubles per query — constant) and enter the plan as literals;
# scoring is 4 element_at lookups + adds per row, one scan, one
# per-query top-k. At 100 TB this is the serving-tier scan shape.
# ---------------------------------------------------------------------------

def _pyfold_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _pq_adc_topk(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators.similarity import assign_cells_fold

    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    coded = emb
    fits = []
    for j in range(_PQ_M):
        cents = _pq_fit(spark, sf, j)
        fits.append(cents)
        coded = (assign_cells_fold(
                     coded.withColumn("_sub", F.slice("embedding",
                                                      j * _PQ_DIMS + 1,
                                                      _PQ_DIMS)),
                     cents, vec_col="_sub", cell_col=f"code{j}")
                 .drop("_sub"))
    # Persist the code words: each of the 5 query branches below scans
    # this frame, and without the cache the 4 interpreted subspace
    # argmin folds re-run per branch (5×). Same cache-lifetime contract
    # as the shingle frames (harness clearCache between queries).
    coded = coded.select(
        "vec_id", *[F.col(f"code{j}") for j in range(_PQ_M)]).persist()

    qrows = {int(r["vec_id"]): list(r["embedding"])
             for r in emb.filter(F.col("vec_id")
                                 .isin(_ANN_QUERY_IDS)).collect()}
    parts = []
    for qid in _ANN_QUERY_IDS:
        qv = qrows[qid]
        luts = []
        for j in range(_PQ_M):
            sub = qv[j * _PQ_DIMS:(j + 1) * _PQ_DIMS]
            lut = []
            for c in fits[j]:
                dvv = _pyfold_dot(sub, sub)
                dvc = _pyfold_dot(sub, c)
                dcc = _pyfold_dot(c, c)
                lut.append((dvv - 2.0 * dvc) + dcc)
            luts.append(lut)
        adc = sum(F.element_at(
                      F.array(*[F.lit(v) for v in luts[j]]),
                      (F.col(f"code{j}") + 1).cast("int"))
                  for j in range(_PQ_M))
        parts.append(coded
                     .filter(F.col("vec_id") != qid)
                     .select(F.lit(qid).cast("long").alias("query_id"),
                             F.col("vec_id").alias("neighbor_id"),
                             adc.alias("adc_d2")))
    scored = parts[0]
    for p in parts[1:]:
        scored = scored.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 10)
            .transform(_sorted1, "query_id", "rank"))


def _pq_adc_oracle(k: int = 10) -> str:
    ctes: list[str] = []
    for j in range(_PQ_M):
        ctes.extend(_pq_sub_ctes(j))
    ids = ", ".join(map(str, _ANN_QUERY_IDS))

    def d2(v: str, c: str) -> str:
        return (f"{_duck_dot(v, v)} - 2.0 * {_duck_dot(v, c)}"
                f" + {_duck_dot(c, c)}")

    for j in range(_PQ_M):
        ctes.append(f"""lut{j} AS (
  SELECT q.vec_id AS query_id, c.cell, {d2('q.v', 'c.centroid')} AS d
  FROM (SELECT vec_id, v FROM sub{j} WHERE vec_id IN ({ids})) q
  CROSS JOIN c{j}_{_PQ_ITER} c)""")
    lut_joins = " ".join(
        f"JOIN lut{j} l{j} ON l{j}.query_id = q.g"
        f" AND l{j}.cell = f{j}.cell" for j in range(_PQ_M))
    code_joins = " ".join(
        f"JOIN a{j}_{_PQ_ITER + 1} f{j} ON f{j}.vec_id = f0.vec_id"
        for j in range(1, _PQ_M))
    adc = " + ".join(f"l{j}.d" for j in range(_PQ_M))
    ctes.append(f"""scored AS (
  SELECT q.g AS query_id, f0.vec_id AS neighbor_id,
         0 + {adc} AS adc_d2
  FROM (SELECT unnest([{ids}]) AS g) q
  CROSS JOIN a0_{_PQ_ITER + 1} f0 {code_joins} {lut_joins}
  WHERE f0.vec_id != q.g)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT CAST(query_id AS BIGINT) AS query_id, neighbor_id, adc_d2,
       CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY adc_d2 ASC, neighbor_id ASC) AS rn FROM scored) t
WHERE rn <= {k} ORDER BY query_id, rn
""")


register(
    "pq_adc_topk",
    _pq_adc_topk,
    _pq_adc_oracle(),
    doc="PQ asymmetric-distance top-10: per-query 8-entry LUTs of "
        "exact-fold squared distances per subspace, database vectors "
        "scored as 4 table lookups + a fixed-order sum on their code "
        "words; approximate distances and ranking bit-replayed by the "
        "oracle from the unrolled subspace fits.",
)


# ---------------------------------------------------------------------------
# TFRecord shard roundtrip — the de-facto ML training-data container:
# documents are grouped into genuine TFRecord shards (one real shuffle
# keyed by shard id, like webdataset_roundtrip), each record a true
# protobuf tf.train.Example (varint wire format with NEGATIVE int64s'
# ten-byte encoding, packed fixed32 floats, bytes features) framed with
# the masked-CRC32C TFRecord layout; the reader walks frames with CRC
# verification ON and re-decodes every Example with the real
# wire-format walker. Every published value comes from the DECODED
# bytes and is replayed arithmetically by DuckDB; floats are chosen
# exactly representable in float32 so the double publication is
# hazard-free. operators/tfrecord.py holds the codec (public CRC32C
# test vectors + hypothesis roundtrips in tests/test_tfrecord.py).
#
# Scale shape: one groupBy-shard shuffle + two Arrow crossings; shards
# are independent so the layout splits across executors exactly like
# production TFRecord pipelines expect.
# ---------------------------------------------------------------------------

def _tfrecord_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.tfrecord import (decode_example, encode_example,
                                     frame_records, read_records)

    d = (_t(spark, sf, "documents").select("doc_id")
         .withColumn("shard", (F.col("doc_id") % 32).cast("long")))

    def build(key, pdf):
        records = []
        for did in sorted(pdf["doc_id"].astype("int64")):
            did = int(did)
            n = 5 + did % 4
            toks = [(did * 7 + 3 * i) % 1000 - 400 for i in range(n)]
            records.append(encode_example({
                "doc_id": [did],
                "tokens": toks,
                "score": [(did % 512) / 256.0, (did % 7) / 4.0],
                "text": f"doc{did}".encode()}))
        return pd.DataFrame({"shard": [int(key[0])],
                             "payload": [frame_records(records)]})

    shards = _spread(d, "shard", 32).groupBy("shard").applyInPandas(
        build, "shard long, payload binary")

    def unpack(it):
        for pdf in it:
            rows = []
            for s, p in zip(pdf["shard"].astype("int64"), pdf["payload"]):
                recs = read_records(bytes(p), verify=True)
                for r in recs:
                    ex = decode_example(r)
                    toks = ex["tokens"]
                    rows.append({
                        "doc_id": ex["doc_id"][0],
                        "shard": int(s),
                        "shard_size": len(recs),
                        "n_tokens": len(toks),
                        "token_sum": sum(toks),
                        "neg_tokens": sum(1 for t in toks if t < 0),
                        "score0": float(ex["score"][0]),
                        "score1": float(ex["score"][1]),
                        "text_len": len(ex["text"]),
                        "crc_ok": True})
            yield pd.DataFrame(rows)

    return (shards.mapInPandas(
                unpack, "doc_id long, shard long, shard_size long,"
                        " n_tokens long, token_sum long, neg_tokens long,"
                        " score0 double, score1 double, text_len long,"
                        " crc_ok boolean")
            .transform(_sorted1, "doc_id"))


register(
    "tfrecord_roundtrip",
    _tfrecord_roundtrip,
    """
WITH d AS (
  SELECT doc_id, doc_id % 32 AS shard, 5 + doc_id % 4 AS n
  FROM documents),
s AS (SELECT shard, COUNT(*) AS shard_size FROM d GROUP BY shard),
t AS (
  SELECT d.doc_id, d.shard, d.n,
         (d.doc_id * 7 + 3 * i.g) % 1000 - 400 AS tok
  FROM d JOIN generate_series(0, 8) i(g) ON i.g < d.n)
SELECT d.doc_id, d.shard, CAST(s.shard_size AS BIGINT) AS shard_size,
       CAST(d.n AS BIGINT) AS n_tokens,
       CAST(SUM(t.tok) AS BIGINT) AS token_sum,
       CAST(SUM(CASE WHEN t.tok < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS neg_tokens,
       CAST(d.doc_id % 512 AS DOUBLE) / 256.0 AS score0,
       CAST(d.doc_id % 7 AS DOUBLE) / 4.0 AS score1,
       CAST(LENGTH('doc' || CAST(d.doc_id AS VARCHAR)) AS BIGINT)
         AS text_len,
       TRUE AS crc_ok
FROM d JOIN s ON s.shard = d.shard
JOIN t ON t.doc_id = d.doc_id
GROUP BY d.doc_id, d.shard, s.shard_size, d.n
ORDER BY d.doc_id
""",
    doc="TFRecord shard roundtrip: real protobuf Example encoding "
        "(ten-byte negative varints, packed fixed32 floats), masked-"
        "CRC32C framing verified on read, one shard-keyed shuffle; "
        "decoded token sums, float32-exact scores, and shard sizes "
        "replayed arithmetically.",
)


# ---------------------------------------------------------------------------
# Avro OCF shard roundtrip — Spark's Avro module is an external jar
# that is absent here, so the engine carries its own byte-level Object
# Container File codec (operators/avro_ocf.py: ZIGZAG varints — the
# spec's own examples pinned in tests — block-encoded arrays, embedded
# JSON schema driving field order, per-block sync-marker verification).
# Same shard shape as tfrecord_roundtrip: one groupBy-shard shuffle,
# genuine multi-block files (block_records=8), every published value
# read back out of the container bytes and replayed arithmetically;
# the double score is float-exact by construction ((id%512)/256).
# ---------------------------------------------------------------------------

_AVRO_DOC_SCHEMA = {
    "type": "record", "name": "Doc", "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "tokens", "type": {"type": "array", "items": "long"}},
        {"name": "score", "type": "double"},
        {"name": "text", "type": "string"}]}


def _avro_container_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.avro_ocf import read_ocf, write_ocf

    d = (_t(spark, sf, "documents").select("doc_id")
         .withColumn("shard", (F.col("doc_id") % 32).cast("long")))

    def build(key, pdf):
        s = int(key[0])
        sync = bytes((s * 31 + i * 7) % 256 for i in range(16))
        recs = []
        for did in sorted(pdf["doc_id"].astype("int64")):
            did = int(did)
            n = 5 + did % 4
            recs.append({
                "doc_id": did,
                "tokens": [(did * 7 + 3 * i) % 1000 - 400
                           for i in range(n)],
                "score": (did % 512) / 256.0,
                "text": f"doc{did}"})
        return pd.DataFrame({"shard": [s],
                             "payload": [write_ocf(_AVRO_DOC_SCHEMA,
                                                   recs, sync,
                                                   block_records=8)]})

    shards = _spread(d, "shard", 32).groupBy("shard").applyInPandas(
        build, "shard long, payload binary")

    def unpack(it):
        for pdf in it:
            rows = []
            for s, p in zip(pdf["shard"].astype("int64"), pdf["payload"]):
                r = read_ocf(bytes(p))
                want = bytes((int(s) * 31 + i * 7) % 256
                             for i in range(16))
                for rec in r["records"]:
                    toks = rec["tokens"]
                    rows.append({
                        "doc_id": rec["doc_id"],
                        "shard": int(s),
                        "shard_size": len(r["records"]),
                        "n_blocks": r["n_blocks"],
                        "n_tokens": len(toks),
                        "token_sum": sum(toks),
                        "score": float(rec["score"]),
                        "text_len": len(rec["text"]),
                        "sync_ok": r["sync"] == want})
            yield pd.DataFrame(rows)

    return (shards.mapInPandas(
                unpack, "doc_id long, shard long, shard_size long,"
                        " n_blocks long, n_tokens long, token_sum long,"
                        " score double, text_len long, sync_ok boolean")
            .transform(_sorted1, "doc_id"))


register(
    "avro_container_roundtrip",
    _avro_container_roundtrip,
    """
WITH d AS (
  SELECT doc_id, doc_id % 32 AS shard, 5 + doc_id % 4 AS n
  FROM documents),
s AS (SELECT shard, COUNT(*) AS shard_size,
             (COUNT(*) + 7) // 8 AS n_blocks
      FROM d GROUP BY shard),
t AS (
  SELECT d.doc_id, (d.doc_id * 7 + 3 * i.g) % 1000 - 400 AS tok
  FROM d JOIN generate_series(0, 8) i(g) ON i.g < d.n)
SELECT d.doc_id, d.shard,
       CAST(s.shard_size AS BIGINT) AS shard_size,
       CAST(s.n_blocks AS BIGINT) AS n_blocks,
       CAST(d.n AS BIGINT) AS n_tokens,
       CAST(SUM(t.tok) AS BIGINT) AS token_sum,
       CAST(d.doc_id % 512 AS DOUBLE) / 256.0 AS score,
       CAST(LENGTH('doc' || CAST(d.doc_id AS VARCHAR)) AS BIGINT)
         AS text_len,
       TRUE AS sync_ok
FROM d JOIN s ON s.shard = d.shard
JOIN t ON t.doc_id = d.doc_id
GROUP BY d.doc_id, d.shard, s.shard_size, s.n_blocks, d.n
ORDER BY d.doc_id
""",
    doc="Avro OCF roundtrip without the avro jar: zigzag varints, "
        "block-encoded arrays, embedded-schema-driven decode, "
        "per-block sync verification over genuine multi-block shard "
        "files; token sums, scores, and block counts replayed "
        "arithmetically.",
)


# ---------------------------------------------------------------------------
# Snappy-coded Avro OCF — same container walk as
# avro_container_roundtrip but with avro.codec=snappy: every block runs
# through libsnappy (pyarrow's bundled codec, via operators/avro_ocf.py,
# which bounds the declared length before decoding) and the spec's
# big-endian CRC32-of-uncompressed check before records decode. A
# compression_saved column (null-codec bytes minus snappy bytes,
# summed per shard) proves real copy-bearing streams were produced —
# it is strictly positive for every shard because the record bodies
# share structure. That byte delta depends on the exact encoder
# emits, so it is deliberately NOT published; the published values are
# the decoded-record facts the oracle can replay arithmetically plus
# the boolean that compression actually happened.
# ---------------------------------------------------------------------------

def _avro_snappy_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.avro_ocf import read_ocf, write_ocf

    d = (_t(spark, sf, "documents").select("doc_id")
         .withColumn("shard", (F.col("doc_id") % 32).cast("long")))

    def build(key, pdf):
        s = int(key[0])
        sync = bytes((s * 31 + i * 7) % 256 for i in range(16))
        recs = []
        for did in sorted(pdf["doc_id"].astype("int64")):
            did = int(did)
            n = 5 + did % 4
            recs.append({
                "doc_id": did,
                "tokens": [(did * 7 + 3 * i) % 1000 - 400
                           for i in range(n)],
                "score": (did % 512) / 256.0,
                "text": f"doc{did}"})
        snappy = write_ocf(_AVRO_DOC_SCHEMA, recs, sync,
                           block_records=8, codec="snappy")
        null = write_ocf(_AVRO_DOC_SCHEMA, recs, sync, block_records=8)
        return pd.DataFrame({"shard": [s], "payload": [snappy],
                             "saved": [len(null) - len(snappy)]})

    shards = _spread(d, "shard", 32).groupBy("shard").applyInPandas(
        build, "shard long, payload binary, saved long")

    def unpack(it):
        for pdf in it:
            rows = []
            for s, p, sv in zip(pdf["shard"].astype("int64"),
                                pdf["payload"],
                                pdf["saved"].astype("int64")):
                r = read_ocf(bytes(p))
                for rec in r["records"]:
                    toks = rec["tokens"]
                    rows.append({
                        "doc_id": rec["doc_id"],
                        "shard": int(s),
                        "codec": r["codec"],
                        "n_blocks": r["n_blocks"],
                        "n_tokens": len(toks),
                        "token_sum": sum(toks),
                        "score": float(rec["score"]),
                        "compressed": int(sv) > 0})
            yield pd.DataFrame(rows)

    return (shards.mapInPandas(
                unpack, "doc_id long, shard long, codec string,"
                        " n_blocks long, n_tokens long, token_sum long,"
                        " score double, compressed boolean")
            .transform(_sorted1, "doc_id"))


register(
    "avro_snappy_roundtrip",
    _avro_snappy_roundtrip,
    """
WITH d AS (
  SELECT doc_id, doc_id % 32 AS shard, 5 + doc_id % 4 AS n
  FROM documents),
s AS (SELECT shard, (COUNT(*) + 7) // 8 AS n_blocks FROM d GROUP BY shard),
t AS (
  SELECT d.doc_id, (d.doc_id * 7 + 3 * i.g) % 1000 - 400 AS tok
  FROM d JOIN generate_series(0, 8) i(g) ON i.g < d.n)
SELECT d.doc_id, d.shard, 'snappy' AS codec,
       CAST(s.n_blocks AS BIGINT) AS n_blocks,
       CAST(d.n AS BIGINT) AS n_tokens,
       CAST(SUM(t.tok) AS BIGINT) AS token_sum,
       CAST(d.doc_id % 512 AS DOUBLE) / 256.0 AS score,
       TRUE AS compressed
FROM d JOIN s ON s.shard = d.shard
JOIN t ON t.doc_id = d.doc_id
GROUP BY d.doc_id, d.shard, s.n_blocks, d.n
ORDER BY d.doc_id
""",
    doc="Snappy-coded Avro OCF: libsnappy block decode + "
        "the spec's CRC32-of-uncompressed verification per block, "
        "then the schema-driven record walk; decoded values replayed "
        "arithmetically, with a pinned boolean that compression "
        "genuinely shrank every shard.",
)


# ---------------------------------------------------------------------------
# Longest repeated substring per document — the per-document exact-
# repetition primitive behind suffix-array dedup (Lee et al.,
# "Deduplicating Training Data Makes Language Models Better"): built on
# a REAL suffix array + Kasai LCP (operators/text.py, verified against
# brute force by hypothesis), not the relational window join the
# span-coverage query uses. Bounded to the 64-char document prefix so
# the oracle can pin the same answer by counting duplicate fixed-length
# windows at every length (1M tiny rows at sf0.01) — the engine side
# has no such bound and runs O(n log^2 n) per document.
#
# Scale shape: narrow per-document Arrow work, no shuffle before the
# final sort. Ties at the max length resolve to the lexicographically
# smallest substring (free from suffix-array order; GROUP BY + MIN in
# the oracle).
# ---------------------------------------------------------------------------

def _longest_repeated(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.text import longest_repeated_substring

    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def scan(it):
        for pdf in it:
            rows = []
            for did, txt in zip(pdf["doc_id"].astype("int64"),
                                pdf["text"]):
                s = (txt or "")[:64]
                ln, w = longest_repeated_substring(s)
                occ = (sum(1 for i in range(len(s) - ln + 1)
                           if s[i:i + ln] == w) if ln else 0)
                rows.append({"doc_id": int(did), "lrs_len": ln,
                             "lrs": w, "occurrences": occ})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(scan, "doc_id long, lrs_len long,"
                                  " lrs string, occurrences long")
               .transform(_sorted1, "doc_id"))


register(
    "longest_repeated_substring",
    _longest_repeated,
    """
WITH p AS (SELECT doc_id, substr(text, 1, 64) AS s FROM documents),
w AS (
  SELECT p.doc_id, L.g AS L, substr(p.s, CAST(i.g AS INT),
                                    CAST(L.g AS INT)) AS w
  FROM p
  JOIN generate_series(1, 63) L(g) ON L.g <= LENGTH(p.s) - 1
  JOIN generate_series(1, 64) i(g) ON i.g + L.g - 1 <= LENGTH(p.s)),
dup AS (
  SELECT doc_id, L, w, COUNT(*) AS c
  FROM w GROUP BY doc_id, L, w HAVING COUNT(*) >= 2),
best AS (SELECT doc_id, MAX(L) AS lrs_len FROM dup GROUP BY doc_id),
pick AS (
  SELECT d.doc_id, b.lrs_len, d.w, d.c,
         ROW_NUMBER() OVER (PARTITION BY d.doc_id ORDER BY d.w) AS rn
  FROM dup d JOIN best b ON b.doc_id = d.doc_id AND d.L = b.lrs_len)
SELECT p.doc_id,
       CAST(COALESCE(k.lrs_len, 0) AS BIGINT) AS lrs_len,
       COALESCE(k.w, '') AS lrs,
       CAST(COALESCE(k.c, 0) AS BIGINT) AS occurrences
FROM p LEFT JOIN (SELECT * FROM pick WHERE rn = 1) k
  ON k.doc_id = p.doc_id
ORDER BY p.doc_id
""",
    doc="Longest repeated substring via a real suffix array + Kasai "
        "LCP per document (hypothesis-verified vs brute force); the "
        "oracle re-derives length, lexicographically-smallest winner, "
        "and overlap-counted occurrences by duplicate-window counting "
        "over every length.",
)


# ---------------------------------------------------------------------------
# MP4 sample-table probe — the stbl walk (stts run-length decode
# times, stsc first-chunk-run expansion, stsz sizes, stco offsets) that
# maps every sample to (timestamp, size, file offset) BEFORE any codec
# touches bytes: this is how "decode every k-th frame" finds its
# frames in a real MP4, and the part probe_mp4's clip-level metadata
# pass doesn't cover. The walker reads each addressed sample's first
# byte back out of the container, so the offset arithmetic is verified
# against actual mdat content; the fixture's ftyp is constant-size, so
# the oracle replays absolute file offsets with a running-sum window.
# Codec decode of the samples stays behind the documented library
# boundary — the TABLES are the Spark-side plumbing that must be real.
# ---------------------------------------------------------------------------

def _mp4_sample_table_probe(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.multimodal import (build_mp4_sample_table,
                                       parse_mp4_samples)

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def run(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                n = 8 + did % 5
                samples = [bytes([(did * 13 + i * 7) % 256])
                           * (4 + (did + i) % 3) for i in range(n)]
                d1 = 100 + (did % 3) * 20
                stts = [(4, d1), (n - 4, 200)]
                chunks = [3] * (n // 3) + ([n % 3] if n % 3 else [])
                mp4 = build_mp4_sample_table(samples, stts, chunks)
                r = parse_mp4_samples(mp4)
                ss = r["samples"]
                rows.append({
                    "doc_id": did,
                    "n_samples": r["n_samples"],
                    "n_chunks": r["n_chunks"],
                    "duration": r["duration"],
                    "total_bytes": sum(s["size"] for s in ss),
                    "sum_offsets": sum(s["offset"] for s in ss),
                    "sum_dts": sum(s["dts"] for s in ss),
                    "sum_first_bytes": sum(s["first_byte"]
                                           for s in ss)})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(run, "doc_id long, n_samples long,"
                                 " n_chunks long, duration long,"
                                 " total_bytes long, sum_offsets long,"
                                 " sum_dts long, sum_first_bytes long")
               .transform(_sorted1, "doc_id"))


register(
    "mp4_sample_table_probe",
    _mp4_sample_table_probe,
    """
WITH p AS (
  SELECT doc_id, 8 + doc_id % 5 AS n, 100 + (doc_id % 3) * 20 AS d1
  FROM documents),
s AS (
  SELECT p.doc_id, p.n, p.d1, CAST(i.g AS BIGINT) AS i,
         4 + (p.doc_id + i.g) % 3 AS sz,
         (p.doc_id * 13 + i.g * 7) % 256 AS fb,
         CASE WHEN i.g < 4 THEN i.g * p.d1
              ELSE 4 * p.d1 + (i.g - 4) * 200 END AS dts
  FROM p JOIN generate_series(0, 12) i(g) ON i.g < p.n),
o AS (
  SELECT *, 32 + SUM(sz) OVER (PARTITION BY doc_id ORDER BY i
            ROWS UNBOUNDED PRECEDING) - sz AS off
  FROM s)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST((n + 2) // 3 AS BIGINT) AS n_chunks,
       CAST(4 * d1 + (n - 4) * 200 AS BIGINT) AS duration,
       CAST(SUM(sz) AS BIGINT) AS total_bytes,
       CAST(SUM(off) AS BIGINT) AS sum_offsets,
       CAST(SUM(dts) AS BIGINT) AS sum_dts,
       CAST(SUM(fb) AS BIGINT) AS sum_first_bytes
FROM o GROUP BY doc_id, n, d1 ORDER BY doc_id
""",
    doc="MP4 stbl walk: stts run expansion to decode times, stsc "
        "first-chunk-run expansion, stsz/stco offset resolution, each "
        "addressed sample's first byte read back out of mdat; "
        "timestamps, sizes, absolute offsets, and content bytes all "
        "replayed arithmetically (running-sum window on the oracle "
        "side only).",
)


# ---------------------------------------------------------------------------
# Zone-map pruning audit — THE 100 TB lever: a lake scan skips a file
# whenever the predicate interval misses the file's [min, max] zone
# map, and the ratio rows_scanned / rows_matched says how much the
# layout amplifies each query. The manifest here is built from the
# fact table itself (one month = one file, min/max/count of the price
# in integer cents via an exact DECIMAL(18,2) bridge — the repo's
# standard double->cents pattern), then a broadcast predicate table is
# audited against it: skipped files, surviving rows, exact selectivity
# from the base table, and the integer amplification factor. The same
# arithmetic a table-format reader (parquet row groups, Iceberg/Delta
# manifests) runs before any I/O happens.
#
# Scale shape: manifest = one grouped agg (80 rows); predicates
# broadcast; exact counts are a second grouped agg over one scan. No
# window, no Python.
# ---------------------------------------------------------------------------

def _manifest_prune_audit(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long").alias("file_id"))
    manifest = (o.groupBy("file_id")
                .agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"),
                     F.count(F.lit(1)).alias("rows")))
    preds = (spark.range(9).select(
        F.col("id").cast("long").alias("pid"),
        (F.col("id") * 7_000_000).alias("lo"),
        (F.col("id") * 7_000_000 + 2_500_000).alias("hi")))
    hit = ~((F.col("mx") < F.col("lo")) | (F.col("mn") > F.col("hi")))
    audited = (manifest.crossJoin(F.broadcast(preds))
               .groupBy("pid", "lo", "hi")
               .agg(F.count(F.lit(1)).alias("files_total"),
                    F.sum((~hit).cast("long")).alias("files_skipped"),
                    F.sum(F.when(hit, F.col("rows")).otherwise(0))
                    .alias("rows_scanned")))
    exact = (o.crossJoin(F.broadcast(preds))
             .filter((F.col("cents") >= F.col("lo"))
                     & (F.col("cents") <= F.col("hi")))
             .groupBy("pid").agg(F.count(F.lit(1)).alias("exact_rows")))
    return (audited.join(exact, "pid", "left")
            .withColumn("exact_rows",
                        F.coalesce(F.col("exact_rows"), F.lit(0)))
            # integer `div`, not double `/` + cast: floor semantics
            # must match the oracle's `//` bit-for-bit
            .withColumn("amp_milli",
                        F.expr("(rows_scanned * 1000)"
                               " div greatest(exact_rows, 1)"))
            .select("pid", "lo", "hi", "files_total", "files_skipped",
                    "rows_scanned", "exact_rows", "amp_milli")
            .transform(_sorted1, "pid"))


register(
    "manifest_prune_audit",
    _manifest_prune_audit,
    """
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS file_id
  FROM orders),
m AS (
  SELECT file_id, MIN(cents) AS mn, MAX(cents) AS mx,
         COUNT(*) AS rows FROM o GROUP BY file_id),
p AS (
  SELECT CAST(g AS BIGINT) AS pid,
         CAST(g * 7000000 AS BIGINT) AS lo,
         CAST(g * 7000000 + 2500000 AS BIGINT) AS hi
  FROM generate_series(0, 8) t(g)),
a AS (
  SELECT p.pid, p.lo, p.hi,
         COUNT(*) AS files_total,
         SUM(CASE WHEN m.mx < p.lo OR m.mn > p.hi THEN 1 ELSE 0 END)
           AS files_skipped,
         SUM(CASE WHEN m.mx < p.lo OR m.mn > p.hi THEN 0 ELSE m.rows END)
           AS rows_scanned
  FROM m CROSS JOIN p GROUP BY p.pid, p.lo, p.hi),
e AS (
  SELECT p.pid, COUNT(*) AS exact_rows
  FROM o JOIN p ON o.cents BETWEEN p.lo AND p.hi
  GROUP BY p.pid)
SELECT a.pid, a.lo, a.hi,
       CAST(a.files_total AS BIGINT) AS files_total,
       CAST(a.files_skipped AS BIGINT) AS files_skipped,
       CAST(a.rows_scanned AS BIGINT) AS rows_scanned,
       CAST(COALESCE(e.exact_rows, 0) AS BIGINT) AS exact_rows,
       CAST(a.rows_scanned * 1000 // GREATEST(COALESCE(e.exact_rows, 0), 1)
            AS BIGINT) AS amp_milli
FROM a LEFT JOIN e ON e.pid = a.pid
ORDER BY a.pid
""",
    doc="Zone-map pruning audit: month-file manifest (min/max/count in "
        "exact integer cents), broadcast predicate table, skip/scan "
        "accounting, exact selectivity from the base table, and the "
        "integer scan-amplification factor — the pre-I/O math of "
        "parquet row groups and lakehouse manifests.",
)


# ---------------------------------------------------------------------------
# Confusable-skeleton audit (UTS #39 subset) — the homoglyph-spoofing
# companion to unicode_script_mix: Cyrillic 'а' inside Latin words
# defeats exact dedup, blocklists, and URL matching unless text is
# first mapped to its confusable skeleton. The map here is a
# documented 12-pair subset of Unicode confusables.txt (public data;
# same expression shape extends to the full table), applied with
# translate() so the whole audit is codegen Column work on both
# engines. The fixture injects real homoglyphs per doc_id class and
# the oracle replays injection, counting, and skeleton equality.
# ---------------------------------------------------------------------------

#: (confusable, ascii) pairs — subset of Unicode confusables.txt:
#: Cyrillic а е о с р х і ѕ ј у + Greek ο ν.
_CONFUSABLES = "аеосрхіѕјуον"
_CONF_ASCII = "aeocpxisjyov"


def _confusable_skeleton(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select("doc_id", "text")
    base = F.substring("text", 1, 16)
    kind = (F.col("doc_id") % 4).cast("long")
    # kind 1: Cyrillic а for a; kind 2: Cyrillic е/о; kind 3: Greek
    # omicron + Cyrillic с (mixed-script injection). The published
    # columns (counts + skeleton equality) are identical whichever
    # homoglyph of the same letter is injected — both map to ASCII.
    spoofed = (F.when(kind == 1, F.translate(base, "a", "а"))
               .when(kind == 2, F.translate(base, "eo", "ео"))
               .when(kind == 3, F.translate(base, "oc", "ο" + "с"))
               .otherwise(base))
    t = d.select("doc_id", kind.alias("spoof_kind"), base.alias("base"),
                 spoofed.alias("spoofed"))
    skeleton = F.translate(F.col("spoofed"), _CONFUSABLES, _CONF_ASCII)
    n_conf = (F.length("spoofed")
              - F.length(F.translate(F.col("spoofed"), _CONFUSABLES, "")))
    return (t.withColumn("n_confusables", n_conf.cast("long"))
            .withColumn("skeleton_eq_base", skeleton == F.col("base"))
            .withColumn("changed", F.col("spoofed") != F.col("base"))
            .select("doc_id", "spoof_kind", "n_confusables",
                    "skeleton_eq_base", "changed")
            .transform(_sorted1, "doc_id"))


register(
    "confusable_skeleton",
    _confusable_skeleton,
    """
WITH t AS (
  SELECT doc_id, doc_id % 4 AS spoof_kind,
         substr(text, 1, 16) AS base,
         CASE doc_id % 4
           WHEN 1 THEN translate(substr(text, 1, 16), 'a', 'а')
           WHEN 2 THEN translate(substr(text, 1, 16), 'eo', 'ео')
           WHEN 3 THEN translate(substr(text, 1, 16), 'oc', 'ос')
           ELSE substr(text, 1, 16) END AS spoofed
  FROM documents)
SELECT doc_id, CAST(spoof_kind AS BIGINT) AS spoof_kind,
       CAST(LENGTH(spoofed)
            - LENGTH(translate(spoofed, 'аеосрхіѕјуον', ''))
            AS BIGINT) AS n_confusables,
       translate(spoofed, 'аеосрхіѕјуον', 'aeocpxisjyov') = base
         AS skeleton_eq_base,
       spoofed != base AS changed
FROM t ORDER BY doc_id
""",
    doc="UTS #39 confusable skeleton: homoglyphs injected per doc_id "
        "class, confusable counting and skeleton-vs-original equality "
        "via translate() — all codegen, engine-portable; the 12-pair "
        "map is a documented subset of the public confusables table.",
)


# ---------------------------------------------------------------------------
# Arrow IPC (Feather v2) roundtrip — the zero-copy interchange format
# between the JVM engine and the Python/ML side of a training pipeline
# (dataloaders, feature stores, pandas/polars consumers). Spark has no
# native IPC-file source, so the seam is honest engine work: each
# partition is written as a genuine Arrow IPC stream file via
# mapInPandas (pyarrow, already the engine's Arrow bridge), then a
# second pass re-opens every file with the IPC reader and re-derives
# the values — the same two-crossing shard shape as the tar/TFRecord/
# Avro seams, one shuffle keyed by shard id.
# ---------------------------------------------------------------------------

def _arrow_ipc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import os as _os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.ipc as ipc

    out = _scratch_dir("arrow_ipc_rt_", sf)
    d = (_t(spark, sf, "documents")
         .select("doc_id", "text", "lang", "source")
         .withColumn("shard", (F.col("doc_id") % 16).cast("long")))

    def write_shards(key, pdf):
        s = int(key[0])
        path = _os.path.join(out, f"shard-{s:05d}.arrow")
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        table = pa.Table.from_pandas(pdf[["doc_id", "text", "lang",
                                          "source"]],
                                     preserve_index=False)
        with ipc.new_file(path, table.schema) as w:
            # several record batches per file so the reader's batch
            # walk is real, not a single-batch special case
            for lo in range(0, table.num_rows, 8):
                w.write_batch(table.slice(lo, 8).combine_chunks()
                              .to_batches()[0])
        return pd.DataFrame({"shard": [s], "path": [path],
                             "n_rows": [table.num_rows]})

    shards = _spread(d, "shard", 16).groupBy("shard").applyInPandas(
        write_shards, "shard long, path string, n_rows long")

    def read_back(it):
        for pdf in it:
            for s, path, n in zip(pdf["shard"].astype("int64"),
                                  pdf["path"],
                                  pdf["n_rows"].astype("int64")):
                with ipc.open_file(path) as r:
                    nb = r.num_record_batches
                    t = r.read_all()
                tp = t.to_pandas()
                tp["shard"] = int(s)
                tp["n_batches"] = nb
                tp["shard_rows"] = int(n)
                yield tp

    back = shards.mapInPandas(
        read_back, "doc_id long, text string, lang string,"
                   " source string, shard long, n_batches long,"
                   " shard_rows long")
    return (back.select("doc_id", "lang", "source", "shard",
                        "n_batches", "shard_rows",
                        F.length("text").cast("long").alias("n_chars_rt"),
                        F.md5(F.col("text")).alias("text_md5"))
            .transform(_sorted1, "doc_id"))


register(
    "arrow_ipc_roundtrip",
    _arrow_ipc_roundtrip,
    """
WITH d AS (SELECT doc_id, text, lang, source, doc_id % 16 AS shard
           FROM documents),
s AS (SELECT shard, COUNT(*) AS shard_rows,
             (COUNT(*) + 7) // 8 AS n_batches
      FROM d GROUP BY shard)
SELECT d.doc_id, d.lang, d.source, d.shard,
       CAST(s.n_batches AS BIGINT) AS n_batches,
       CAST(s.shard_rows AS BIGINT) AS shard_rows,
       CAST(length(d.text) AS BIGINT) AS n_chars_rt,
       md5(d.text) AS text_md5
FROM d JOIN s ON s.shard = d.shard
ORDER BY d.doc_id
""",
    doc="Arrow IPC (Feather v2) shard roundtrip: genuine multi-batch "
        "IPC files written per shard and re-read with the IPC file "
        "reader; ids, strings, md5s, batch counts, and shard sizes "
        "all value-pinned — the ML-side interchange seam.",
)


# ---------------------------------------------------------------------------
# Palette (indexed) PNG roundtrip — color type 3, the favicon/sprite
# shape next to the truecolor and Adam7 paths already pinned: PLTE
# lookup after de-filtering at bpp=1 (the Sub/Paeth left-neighbor
# distance CHANGES for indexed scanlines — a classic decoder bug this
# oracle would catch), odd ids interlaced so the palette x Adam7
# combination is inside the hash. Same fixture arithmetic as the GIF
# roundtrip, so the oracle is shared shape: palette/index sums plus
# position-weighted moments.
# ---------------------------------------------------------------------------

def _png_palette_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .operators.multimodal import decode_png, encode_png_palette

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def enc(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                y, x = np.mgrid[0:16, 0:16]
                idx = ((did + 2 * x + 3 * y) % 16).astype(np.uint8)
                i = np.arange(16)
                pal = np.stack([(did * 5 + 17 * i) % 256,
                                (did * 7 + 29 * i) % 256,
                                (did * 11 + 41 * i) % 256],
                               axis=-1).astype(np.uint8)
                payloads.append(encode_png_palette(
                    idx, pal, interlace=(did % 2 == 1)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    def dec(it):
        for pdf in it:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"),
                              pdf["payload"]):
                r = decode_png(bytes(p))
                rgb = r["rgb"].astype("int64")
                y, x = np.mgrid[0:16, 0:16]
                wgt = 1 + x + 16 * y
                rows.append({
                    "doc_id": int(did),
                    "interlaced": bool(r["interlaced"]),
                    "palette_size": r["palette_size"],
                    "bits_per_pixel": r["bits_per_pixel"],
                    "moment_r": int((wgt * rgb[:, :, 0]).sum()),
                    "moment_g": int((wgt * rgb[:, :, 1]).sum()),
                    "moment_b": int((wgt * rgb[:, :, 2]).sum())})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(enc, "doc_id long, payload binary")
               .mapInPandas(dec, "doc_id long, interlaced boolean,"
                                 " palette_size long,"
                                 " bits_per_pixel long, moment_r long,"
                                 " moment_g long, moment_b long")
               .transform(_sorted1, "doc_id"))


register(
    "png_palette_roundtrip",
    _png_palette_roundtrip,
    """
WITH g AS (SELECT CAST(a.g AS BIGINT) AS x, CAST(b.g AS BIGINT) AS y
           FROM generate_series(0, 15) a(g), generate_series(0, 15) b(g)),
px AS (
  SELECT d.doc_id, g.x, g.y,
         (d.doc_id + 2 * g.x + 3 * g.y) % 16 AS i
  FROM documents d CROSS JOIN g)
SELECT doc_id,
       doc_id % 2 = 1 AS interlaced,
       CAST(16 AS BIGINT) AS palette_size,
       CAST(8 AS BIGINT) AS bits_per_pixel,
       CAST(SUM((1 + x + 16 * y) * ((doc_id * 5 + 17 * i) % 256))
            AS BIGINT) AS moment_r,
       CAST(SUM((1 + x + 16 * y) * ((doc_id * 7 + 29 * i) % 256))
            AS BIGINT) AS moment_g,
       CAST(SUM((1 + x + 16 * y) * ((doc_id * 11 + 41 * i) % 256))
            AS BIGINT) AS moment_b
FROM px GROUP BY doc_id ORDER BY doc_id
""",
    doc="Palette PNG (color type 3) roundtrip: PLTE lookup after "
        "bpp=1 de-filtering, odd ids Adam7-interlaced; palette/index "
        "arithmetic and position-weighted moments replayed by SQL.",
)


# ---------------------------------------------------------------------------
# Multi-page TIFF roundtrip — the scanned-document/fax layout: one IFD
# per page chained by next-pointers (loop-guarded), each page with its
# own strips/compression. Page content is weighted into the moments by
# page ordinal so a page-order or chain-walk bug cannot hide in sums.
# ---------------------------------------------------------------------------

def _tiff_multipage_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .operators.multimodal import (decode_tiff_pages,
                                       encode_tiff_multipage)

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def enc(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                y, x = np.mgrid[0:16, 0:16]
                pages = [((did + 5 * p + 2 * x + 3 * y) % 256)
                         .astype(np.uint8)
                         for p in range(2 + did % 2)]
                payloads.append(encode_tiff_multipage(
                    pages, compression=5 if did % 2 == 0 else 1,
                    big_endian=(did % 3 == 0)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    def dec(it):
        for pdf in it:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"),
                              pdf["payload"]):
                ps = decode_tiff_pages(bytes(p))
                tot = mom = 0
                mn, mx = 255, 0
                for pi, pg in enumerate(ps):
                    px = pg["pixels"].astype("int64")
                    tot += int(px.sum())
                    mom += (pi + 1) * int(px.sum())
                    mn = min(mn, int(px.min()))
                    mx = max(mx, int(px.max()))
                rows.append({"doc_id": int(did), "n_pages": len(ps),
                             "big_endian": ps[0]["byte_order"] == "big",
                             "compression": ps[0]["compression"],
                             "pix_sum": tot, "page_moment": mom,
                             "pix_min": mn, "pix_max": mx})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(enc, "doc_id long, payload binary")
               .mapInPandas(dec, "doc_id long, n_pages long,"
                                 " big_endian boolean, compression long,"
                                 " pix_sum long, page_moment long,"
                                 " pix_min long, pix_max long")
               .transform(_sorted1, "doc_id"))


register(
    "tiff_multipage_roundtrip",
    _tiff_multipage_roundtrip,
    """
WITH g AS (SELECT CAST(a.g AS BIGINT) AS x, CAST(b.g AS BIGINT) AS y
           FROM generate_series(0, 15) a(g), generate_series(0, 15) b(g)),
d AS (SELECT doc_id, 2 + doc_id % 2 AS n FROM documents),
px AS (
  SELECT d.doc_id, d.n, p.g AS p,
         (d.doc_id + 5 * p.g + 2 * g.x + 3 * g.y) % 256 AS v
  FROM d JOIN generate_series(0, 2) p(g) ON p.g < d.n
  CROSS JOIN g)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_pages,
       doc_id % 3 = 0 AS big_endian,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 5 ELSE 1 END AS BIGINT)
         AS compression,
       CAST(SUM(v) AS BIGINT) AS pix_sum,
       CAST(SUM((p + 1) * v) AS BIGINT) AS page_moment,
       CAST(MIN(v) AS BIGINT) AS pix_min,
       CAST(MAX(v) AS BIGINT) AS pix_max
FROM px GROUP BY doc_id, n ORDER BY doc_id
""",
    doc="Multi-page TIFF roundtrip: chained IFDs decoded page by page "
        "(loop-guarded next pointers, per-page strips/LZW/predictor), "
        "page-ordinal-weighted moments so chain-order bugs cannot "
        "cancel in sums.",
)


# ---------------------------------------------------------------------------
# WebM/Matroska block probe — the EBML container walk (RFC 8794 vints,
# Segment/Info/Tracks/Cluster tree, SimpleBlock track vint + SIGNED
# 16-bit relative timestamps + keyframe flags) that a frame sampler
# runs to resolve absolute block timestamps before any VP9 bytes are
# touched. Completes the container trio next to AVI (RIFF) and MP4
# (ISO-BMFF). Fixture: genuine multi-cluster streams with negative
# relative timestamps in the hash; the oracle replays cluster-base
# + relative arithmetic, keyframe counts, and payload byte sums.
# ---------------------------------------------------------------------------

def _webm_block_probe(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.multimodal import encode_webm_blocks, parse_webm

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def run(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                nc = 2 + did % 2
                clusters = []
                for c in range(nc):
                    nb = 2 + (did + c) % 2
                    blocks = []
                    for b in range(nb):
                        rel = 40 * b + (did % 7) - 3
                        payload = bytes([(did * 13 + 5 * c + 7 * b)
                                         % 256]) * (3 + b)
                        blocks.append((rel, b == 0, payload))
                    clusters.append((500 * c, blocks))
                w = encode_webm_blocks(clusters,
                                       duration_ts=500 * nc)
                r = parse_webm(w)
                bl = r["blocks"]
                rows.append({
                    "doc_id": did,
                    "n_clusters": r["n_clusters"],
                    "n_blocks": len(bl),
                    "keyframes": sum(1 for x in bl if x["key"]),
                    "ts_sum": sum(x["abs_ts"] for x in bl),
                    "payload_bytes": sum(x["size"] for x in bl),
                    "first_byte_sum": sum(x["first_byte"] for x in bl),
                    "timestamp_scale": r["timestamp_scale"]})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(run, "doc_id long, n_clusters long,"
                                 " n_blocks long, keyframes long,"
                                 " ts_sum long, payload_bytes long,"
                                 " first_byte_sum long,"
                                 " timestamp_scale long")
               .transform(_sorted1, "doc_id"))


register(
    "webm_block_probe",
    _webm_block_probe,
    """
WITH d AS (SELECT doc_id, 2 + doc_id % 2 AS nc FROM documents),
cb AS (
  SELECT d.doc_id, d.nc, c.g AS c, 2 + (d.doc_id + c.g) % 2 AS nb
  FROM d JOIN generate_series(0, 2) c(g) ON c.g < d.nc),
b AS (
  SELECT cb.doc_id, cb.nc, cb.c, CAST(i.g AS BIGINT) AS b
  FROM cb JOIN generate_series(0, 2) i(g) ON i.g < cb.nb)
SELECT doc_id,
       CAST(nc AS BIGINT) AS n_clusters,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS keyframes,
       CAST(SUM(500 * c + 40 * b + doc_id % 7 - 3) AS BIGINT) AS ts_sum,
       CAST(SUM(3 + b) AS BIGINT) AS payload_bytes,
       CAST(SUM((doc_id * 13 + 5 * c + 7 * b) % 256) AS BIGINT)
         AS first_byte_sum,
       CAST(1000000 AS BIGINT) AS timestamp_scale
FROM b GROUP BY doc_id, nc ORDER BY doc_id
""",
    doc="EBML/WebM block probe: real vint walk, Info/Tracks parse, "
        "per-cluster SimpleBlock resolution with signed relative "
        "timestamps and keyframe flags; absolute-timestamp sums, "
        "payload bytes, and keyframe counts replayed arithmetically.",
)


# ---------------------------------------------------------------------------
# H.264 SPS probe — the resolution/profile gate a video curation
# pipeline runs on every clip: Annex-B start-code walk (3- and 4-byte),
# emulation-prevention unescape, NAL census, and the exp-Golomb SPS
# parse that derives TRUE presentation dimensions from macroblock
# counts minus frame cropping (1080 lives in 68 macroblocks with a
# 4-unit bottom crop — the arithmetic this oracle pins). Slice decode
# stays behind the documented codec-library boundary.
# ---------------------------------------------------------------------------

def _h264_sps_probe(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.multimodal import encode_h264_annexb, parse_h264_annexb

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)
    dims = [(1920, 1080), (1280, 720), (640, 360), (354, 288),
            (1918, 1078)]

    def run(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                w, h = dims[did % 5]
                n_idr, n_non = 1 + did % 3, 2 + did % 4
                s = encode_h264_annexb(w, h, n_idr=n_idr,
                                       n_nonidr=n_non,
                                       profile=66 + (did % 2) * 11,
                                       level=30 + (did % 3) * 10)
                r = parse_h264_annexb(s)
                rows.append({
                    "doc_id": did,
                    "width": r["width"], "height": r["height"],
                    "profile_idc": r["profile_idc"],
                    "level_idc": r["level_idc"],
                    "n_nals": r["n_nals"],
                    "idr_nals": r["nal_census"].get(5, 0),
                    "nonidr_nals": r["nal_census"].get(1, 0),
                    "hd_gate": r["width"] * r["height"] >= 1280 * 720})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(run, "doc_id long, width long, height long,"
                                 " profile_idc long, level_idc long,"
                                 " n_nals long, idr_nals long,"
                                 " nonidr_nals long, hd_gate boolean")
               .transform(_sorted1, "doc_id"))


register(
    "h264_sps_probe",
    _h264_sps_probe,
    """
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 5 WHEN 0 THEN 1920 WHEN 1 THEN 1280
              WHEN 2 THEN 640 WHEN 3 THEN 354 ELSE 1918 END AS w,
         CASE doc_id % 5 WHEN 0 THEN 1080 WHEN 1 THEN 720
              WHEN 2 THEN 360 WHEN 3 THEN 288 ELSE 1078 END AS h,
         1 + doc_id % 3 AS n_idr, 2 + doc_id % 4 AS n_non
  FROM documents)
SELECT doc_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(66 + (doc_id % 2) * 11 AS BIGINT) AS profile_idc,
       CAST(30 + (doc_id % 3) * 10 AS BIGINT) AS level_idc,
       CAST(3 + n_idr + n_non AS BIGINT) AS n_nals,
       CAST(n_idr AS BIGINT) AS idr_nals,
       CAST(n_non AS BIGINT) AS nonidr_nals,
       w * h >= 921600 AS hd_gate
FROM d ORDER BY doc_id
""",
    doc="H.264 Annex-B/SPS probe: start-code walk, emulation-"
        "prevention unescape, NAL census, exp-Golomb SPS parse "
        "deriving true dimensions from macroblock counts minus "
        "cropping; profile/level and the HD resolution gate pinned "
        "arithmetically.",
)


# ---------------------------------------------------------------------------
# Crawl-politeness token bucket — the rate-limit math a polite crawler
# runs per domain before fetching (pairs with robots_txt_gate): a
# bucket of 2000 millitokens refilling 1/ms, each request costing
# 1000, deterministic sequential state over the domain's arrival
# sequence. The engine runs the real per-domain state machine behind
# applyInPandas (one shuffle keyed by domain — state never crosses
# domains, which is exactly why this scales); the oracle replays every
# transition with a recursive CTE, ADPCM-style. Arrivals derive from
# doc_id with varying (always-positive) gaps so both refill-capped and
# token-starved regimes are inside the hash.
# ---------------------------------------------------------------------------

def _crawl_token_bucket(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    d = (_t(spark, sf, "documents").select("doc_id")
         .withColumn("domain", (F.col("doc_id") % 20).cast("long"))
         .withColumn("q", (F.col("doc_id") / 20).cast("long"))
         .withColumn("arrival_ms",
                     (F.col("q") * 400
                      + (F.col("q") * 37 + F.col("domain") * 11) % 390)
                     .cast("long")))

    def bucket(key, pdf):
        pdf = pdf.sort_values("arrival_ms").reset_index(drop=True)
        cap, cost = 2000, 1000
        tokens, prev_t = cap, None
        rows = []
        for r in pdf.itertuples():
            t = int(r.arrival_ms)
            if prev_t is not None:
                tokens = min(cap, tokens + (t - prev_t))
            prev_t = t
            allowed = tokens >= cost
            if allowed:
                tokens -= cost
            rows.append({"doc_id": int(r.doc_id),
                         "domain": int(key[0]),
                         "arrival_ms": t,
                         "allowed": allowed,
                         "tokens_after": tokens})
        return pd.DataFrame(rows)

    return (_spread(d, "domain", 20).groupBy("domain").applyInPandas(
                bucket, "doc_id long, domain long, arrival_ms long,"
                        " allowed boolean, tokens_after long")
            .transform(_sorted1, "doc_id"))


register(
    "crawl_token_bucket",
    _crawl_token_bucket,
    """
WITH RECURSIVE
d AS (
  SELECT doc_id, doc_id % 20 AS domain, doc_id // 20 AS q,
         (doc_id // 20) * 400
           + ((doc_id // 20) * 37 + (doc_id % 20) * 11) % 390
           AS arrival_ms
  FROM documents),
n AS (SELECT domain, MAX(q) AS qmax FROM d GROUP BY domain),
r AS (
  SELECT d.doc_id, d.domain, CAST(d.q AS BIGINT) AS q, d.arrival_ms,
         TRUE AS allowed, CAST(1000 AS BIGINT) AS tokens_after
  FROM d WHERE d.q = 0
  UNION ALL
  SELECT d.doc_id, d.domain, d.q, d.arrival_ms,
         LEAST(2000, r.tokens_after
               + d.arrival_ms - r.arrival_ms) >= 1000 AS allowed,
         CASE WHEN LEAST(2000, r.tokens_after
                         + d.arrival_ms - r.arrival_ms) >= 1000
              THEN LEAST(2000, r.tokens_after
                         + d.arrival_ms - r.arrival_ms) - 1000
              ELSE LEAST(2000, r.tokens_after
                         + d.arrival_ms - r.arrival_ms) END
           AS tokens_after
  FROM r JOIN d ON d.domain = r.domain AND d.q = r.q + 1)
SELECT doc_id, domain, arrival_ms, allowed,
       CAST(tokens_after AS BIGINT) AS tokens_after
FROM r ORDER BY doc_id
""",
    doc="Per-domain token-bucket rate limiting (2000 millitokens, "
        "1/ms refill, 1000/request): real sequential state machine "
        "behind one domain-keyed shuffle, every transition replayed "
        "by a recursive-CTE oracle — the crawl-politeness scheduler "
        "next to the robots gate.",
)


# ---------------------------------------------------------------------------
# Preference-tournament cycle audit — RLHF preference data is only
# trainable if the pairwise judgments are roughly transitive; the
# standard integrity number is the count of CYCLIC TRIADS, exact by
# Kendall's identity: cyclic = C(n,3) - sum_i C(wins_i, 2) for a
# complete tournament. Judgments derive from arithmetic per eval
# slice, wins are one hash aggregate, and the triad algebra is integer
# — fully codegen, no Python.
# ---------------------------------------------------------------------------

_PREF_MODELS = 10


def _preference_cycle_audit(spark: SparkSession, sf: str) -> DataFrame:
    m = _PREF_MODELS
    pairs = (spark.range(5).select(F.col("id").cast("long").alias("g"))
             .crossJoin(spark.range(m).select(
                 F.col("id").cast("long").alias("i")))
             .crossJoin(spark.range(m).select(
                 F.col("id").cast("long").alias("j")))
             .filter(F.col("i") < F.col("j")))
    winner = F.when((F.col("i") * 7 + F.col("j") * 13 + F.col("g") * 3)
                    % 5 < 3, F.col("i")).otherwise(F.col("j"))
    wins = (pairs.select("g", winner.alias("w"))
            .groupBy("g", "w").agg(F.count(F.lit(1)).alias("wins")))
    agg = (wins.groupBy("g")
           .agg(F.sum(F.col("wins") * (F.col("wins") - 1) / 2)
                .cast("long").alias("sum_c2"),
                F.max("wins").alias("max_wins")))
    total_triads = m * (m - 1) * (m - 2) // 6
    return (agg.withColumn("n_pairs", F.lit(m * (m - 1) // 2)
                           .cast("long"))
            .withColumn("cyclic_triads",
                        F.lit(total_triads) - F.col("sum_c2"))
            .withColumn("transitive", F.col("cyclic_triads") == 0)
            .select("g", "n_pairs", "max_wins", "cyclic_triads",
                    "transitive")
            .transform(_sorted1, "g"))


register(
    "preference_cycle_audit",
    _preference_cycle_audit,
    f"""
WITH p AS (
  SELECT g.g AS g, i.g AS i, j.g AS j,
         CASE WHEN (i.g * 7 + j.g * 13 + g.g * 3) % 5 < 3
              THEN i.g ELSE j.g END AS w
  FROM generate_series(0, 4) g(g)
  CROSS JOIN generate_series(0, {_PREF_MODELS - 1}) i(g)
  CROSS JOIN generate_series(0, {_PREF_MODELS - 1}) j(g)
  WHERE i.g < j.g),
wins AS (SELECT g, w, COUNT(*) AS wins FROM p GROUP BY g, w)
SELECT CAST(g AS BIGINT) AS g,
       CAST({_PREF_MODELS * (_PREF_MODELS - 1) // 2} AS BIGINT)
         AS n_pairs,
       CAST(MAX(wins) AS BIGINT) AS max_wins,
       CAST({_PREF_MODELS * (_PREF_MODELS - 1) * (_PREF_MODELS - 2) // 6}
            - SUM(wins * (wins - 1) // 2) AS BIGINT) AS cyclic_triads,
       {_PREF_MODELS * (_PREF_MODELS - 1) * (_PREF_MODELS - 2) // 6}
         - SUM(wins * (wins - 1) // 2) = 0 AS transitive
FROM wins GROUP BY g ORDER BY g
""",
    doc="Pairwise-preference transitivity audit: cyclic-triad counts "
        "per eval slice via Kendall's exact identity C(n,3) - sum "
        "C(wins,2) over a complete tournament — one hash aggregate, "
        "all integer.",
)


# ---------------------------------------------------------------------------
# Inter-annotator agreement (Cohen's kappa) — label-quality triage for
# annotation pipelines, published EXACTLY: kappa = (po - pe)/(1 - pe)
# cross-multiplies to the integer form 1000*(n*agree - S) div
# (n*n - S) with S = sum_k row_k * col_k, so both engines compute the
# identical BIGINT with zero float hazard. Annotator labels derive
# from document arithmetic with a seeded disagreement channel.
# ---------------------------------------------------------------------------

def _annotator_kappa(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    a = (F.col("doc_id") * 3 + F.col("n_chars")) % 4
    b = (F.col("doc_id") * 3 + F.col("n_chars")
         + (F.col("doc_id") % 7 == 0).cast("long")) % 4
    t = d.select("source", a.alias("a"), b.alias("b"))
    margins = (t.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("a") == F.col("b")).cast("long"))
                    .alias("agree"),
                    *[F.sum((F.col("a") == k).cast("long"))
                      .alias(f"ra{k}") for k in range(4)],
                    *[F.sum((F.col("b") == k).cast("long"))
                      .alias(f"cb{k}") for k in range(4)]))
    s_expr = sum(F.col(f"ra{k}") * F.col(f"cb{k}") for k in range(4))
    return (margins.withColumn("chance_mass", s_expr.cast("long"))
            .withColumn("kappa_milli",
                        F.expr("(1000 * (n * agree - chance_mass))"
                               " div (n * n - chance_mass)"))
            .select("source", "n", "agree", "chance_mass", "kappa_milli")
            .transform(_sorted1, "source"))


register(
    "annotator_kappa",
    _annotator_kappa,
    """
WITH t AS (
  SELECT source,
         (doc_id * 3 + n_chars) % 4 AS a,
         (doc_id * 3 + n_chars
          + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) % 4 AS b
  FROM documents),
m AS (
  SELECT source, COUNT(*) AS n,
         SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree,
         SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS ra0,
         SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS ra1,
         SUM(CASE WHEN a = 2 THEN 1 ELSE 0 END) AS ra2,
         SUM(CASE WHEN a = 3 THEN 1 ELSE 0 END) AS ra3,
         SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS cb0,
         SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS cb1,
         SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS cb2,
         SUM(CASE WHEN b = 3 THEN 1 ELSE 0 END) AS cb3
  FROM t GROUP BY source)
SELECT source, CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
       CAST(ra0*cb0 + ra1*cb1 + ra2*cb2 + ra3*cb3 AS BIGINT)
         AS chance_mass,
       CAST((1000 * (n * agree - (ra0*cb0 + ra1*cb1 + ra2*cb2 + ra3*cb3)))
            // (n * n - (ra0*cb0 + ra1*cb1 + ra2*cb2 + ra3*cb3))
            AS BIGINT) AS kappa_milli
FROM m ORDER BY source
""",
    doc="Cohen's kappa per source in exact integer milli form "
        "(cross-multiplied (po-pe)/(1-pe), floor div matched on both "
        "engines) over arithmetically-derived annotator labels with a "
        "seeded disagreement channel.",
)


# ---------------------------------------------------------------------------
# Composed multimodal curation pipeline — the video analogue of
# web_curation_pipeline, chaining this round's media operators
# end-to-end THROUGH THE REAL CODECS: synthesize genuine AVI/MJPEG
# clips (40 visual base classes x 3 tweak variants from doc_id), walk
# the RIFF container, entropy-decode the first frame as the thumbnail,
# key exact visual dedup on the DECODED block values (not on doc
# arithmetic — a decoder bug would corrupt the dedup keys and break
# the hash), keep the min-doc survivor per visual key, and roll a
# per-class datasheet. Two shuffles total (key agg, class rollup);
# decode work is per-clip and partition-local.
# ---------------------------------------------------------------------------

def _media_curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .operators.jpegcodec import decode_baseline, encode_baseline_gray
    from .operators.multimodal import encode_avi_mjpeg, parse_avi

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def enc(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                b, t = did % 40, did % 3
                frames = []
                for f in range(3):
                    px = np.zeros((16, 16), dtype=np.uint8)
                    for k in range(4):
                        v = (b * 31 + 97 * k + 13 * f) % 256
                        if t > 0 and f == 0 and k == 0:
                            v = (v + 40 * t) % 256
                        by, bx = divmod(k, 2)
                        px[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = v
                    frames.append(encode_baseline_gray(px))
                payloads.append(encode_avi_mjpeg(frames, 16, 16))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    def thumb(it):
        for pdf in it:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"),
                              pdf["payload"]):
                r = parse_avi(bytes(p))
                px = decode_baseline(r["frames"][0])["pixels"]
                rows.append({"doc_id": int(did),
                             "base": int(did) % 40,
                             "k0": int(px[0, 0]), "k1": int(px[0, 8]),
                             "k2": int(px[8, 0]), "k3": int(px[8, 8])})
            yield pd.DataFrame(rows)

    thumbs = (src.mapInPandas(enc, "doc_id long, payload binary")
              .mapInPandas(thumb, "doc_id long, base long, k0 long,"
                                  " k1 long, k2 long, k3 long"))
    keys = (thumbs.groupBy("base", "k0", "k1", "k2", "k3")
            .agg(F.min("doc_id").alias("survivor"),
                 F.count(F.lit(1)).alias("members")))
    return (keys.groupBy("base")
            .agg(F.count(F.lit(1)).alias("n_thumb_keys"),
                 F.sum("members").alias("n_docs"),
                 F.sum("survivor").alias("survivor_id_sum"),
                 F.max("members").alias("largest_group"))
            .withColumn("dropped",
                        F.col("n_docs") - F.col("n_thumb_keys"))
            .select("base", "n_docs", "n_thumb_keys", "dropped",
                    "largest_group", "survivor_id_sum")
            .transform(_sorted1, "base"))


register(
    "media_curation_pipeline",
    _media_curation_pipeline,
    """
WITH g AS (
  SELECT doc_id, doc_id % 40 AS base, doc_id % 3 AS t FROM documents),
k AS (
  SELECT base, t, MIN(doc_id) AS survivor, COUNT(*) AS members
  FROM g GROUP BY base, t)
SELECT CAST(base AS BIGINT) AS base,
       CAST(SUM(members) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_thumb_keys,
       CAST(SUM(members) - COUNT(*) AS BIGINT) AS dropped,
       CAST(MAX(members) AS BIGINT) AS largest_group,
       CAST(SUM(survivor) AS BIGINT) AS survivor_id_sum
FROM k GROUP BY base ORDER BY base
""",
    doc="Composed multimodal curation: genuine AVI/MJPEG clips, RIFF "
        "walk, real thumbnail entropy decode, exact visual dedup "
        "KEYED ON DECODED PIXELS, min-doc survivors, per-class "
        "datasheet — the oracle replays the (base, tweak) class "
        "structure the decoded keys must reproduce.",
)


# ---------------------------------------------------------------------------
# IDN label roundtrip — internationalized domains reach a crawl as
# xn-- Punycode labels; domain keying, blocklists, and confusable
# screening must decode them first. Each document synthesizes a
# mixed-script label from doc_id, runs the REAL RFC 3492 adaptive-bias
# encoder to its wire form and the real decoder back; published values
# are the decoded-label facts the oracle replays arithmetically (a
# broken encoder OR decoder breaks the roundtrip and the hash; the
# pair is independently pinned against Python's stdlib punycode codec
# in tests/test_robots.py).
# ---------------------------------------------------------------------------

def _idn_label_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.urls import punycode_decode, punycode_encode

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def run(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                label = ("h" + str(did % 10)
                         + chr(1040 + did % 32)
                         + chr(19968 + did % 100))
                wire = "xn--" + punycode_encode(label)
                back = punycode_decode(wire[4:])
                rows.append({
                    "doc_id": did,
                    "is_idn": wire.startswith("xn--"),
                    "decoded_len": len(back),
                    "cp_sum": sum(ord(c) for c in back),
                    "ascii_prefix": back[:2],
                    "roundtrip_ok": back == label,
                    "wire_is_ascii": all(ord(c) < 128 for c in wire)})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(run, "doc_id long, is_idn boolean,"
                                 " decoded_len long, cp_sum long,"
                                 " ascii_prefix string,"
                                 " roundtrip_ok boolean,"
                                 " wire_is_ascii boolean")
               .transform(_sorted1, "doc_id"))


register(
    "idn_label_roundtrip",
    _idn_label_roundtrip,
    """
SELECT doc_id,
       TRUE AS is_idn,
       CAST(4 AS BIGINT) AS decoded_len,
       CAST(104 + 48 + doc_id % 10
            + 1040 + doc_id % 32
            + 19968 + doc_id % 100 AS BIGINT) AS cp_sum,
       'h' || CAST(doc_id % 10 AS VARCHAR) AS ascii_prefix,
       TRUE AS roundtrip_ok,
       TRUE AS wire_is_ascii
FROM documents ORDER BY doc_id
""",
    doc="RFC 3492 Punycode roundtrip over mixed-script IDN labels: "
        "real adaptive-bias encode to the xn-- wire form and decode "
        "back; decoded length/codepoint sums/prefix replayed "
        "arithmetically, the codec pair cross-pinned against the "
        "stdlib punycode codec in tests.",
)


# ---------------------------------------------------------------------------
# Schema-evolution compatibility audit — the governance gate a
# lakehouse runs before accepting a new table version: full-outer-join
# the old and new column sets, classify every difference (added
# nullable column = compatible; dropped column = breaking; int->bigint
# or float->double widening = compatible; narrowing = breaking), and
# roll a per-table verdict. Schemas derive from arithmetic so the
# oracle replays the whole classification; the engine shape is the
# real one (two catalogs full-outer-joined on (table, column), one
# aggregate).
# ---------------------------------------------------------------------------

_SE_TYPES = ["int", "bigint", "float", "double", "string"]
#: widenings considered compatible (Spark's upcast set, simplified)
_SE_WIDEN = [("int", "bigint"), ("float", "double"), ("int", "double")]


def _schema_evolution_audit(spark: SparkSession, sf: str) -> DataFrame:
    tables = spark.range(12).select(F.col("id").cast("long").alias("t"))
    cols = spark.range(9).select(F.col("id").cast("long").alias("c"))
    type_arr = F.array(*[F.lit(x) for x in _SE_TYPES])

    def typ(expr):
        return F.element_at(type_arr, (expr % 5 + 1).cast("int"))

    old = (tables.crossJoin(cols)
           .filter(~((F.col("c") == 8)))                 # c8 is new-only
           .select("t", "c", typ(F.col("t") * 3 + F.col("c"))
                   .alias("old_type")))
    new = (tables.crossJoin(cols)
           .filter(~((F.col("c") == 7) & (F.col("t") % 4 == 0)))
           .filter(~((F.col("c") == 8) & (F.col("t") % 3 != 0)))
           .select("t", "c",
                   F.when((F.col("c") == 2) & (F.col("t") % 2 == 0),
                          F.lit("bigint"))               # int-family widen
                   .when((F.col("c") == 3) & (F.col("t") % 5 == 0),
                         F.lit("int"))                   # narrow attempt
                   .otherwise(typ(F.col("t") * 3 + F.col("c")))
                   .alias("new_type")))
    j = old.join(new, ["t", "c"], "full_outer")
    widen = F.array(*[F.struct(F.lit(a).alias("f"), F.lit(b).alias("o"))
                      for a, b in _SE_WIDEN])
    cls = (F.when(F.col("old_type").isNull(), F.lit("added"))
           .when(F.col("new_type").isNull(), F.lit("dropped"))
           .when(F.col("old_type") == F.col("new_type"),
                 F.lit("unchanged"))
           .when(F.array_contains(
               widen, F.struct(F.col("old_type").alias("f"),
                               F.col("new_type").alias("o"))),
               F.lit("widened"))
           .otherwise(F.lit("narrowed")))
    audited = j.withColumn("cls", cls)
    return (audited.groupBy("t")
            .agg(*[F.sum((F.col("cls") == k).cast("long")).alias(k)
                   for k in ("unchanged", "added", "dropped",
                             "widened", "narrowed")])
            .withColumn("breaking",
                        (F.col("dropped") + F.col("narrowed")) > 0)
            .transform(_sorted1, "t"))


register(
    "schema_evolution_audit",
    _schema_evolution_audit,
    """
WITH types(i, name) AS (VALUES (0,'int'),(1,'bigint'),(2,'float'),
                               (3,'double'),(4,'string')),
old AS (
  SELECT t.g AS t, c.g AS c, ty.name AS old_type
  FROM generate_series(0, 11) t(g)
  CROSS JOIN generate_series(0, 7) c(g)
  JOIN types ty ON ty.i = (t.g * 3 + c.g) % 5),
new AS (
  SELECT t.g AS t, c.g AS c,
         CASE WHEN c.g = 2 AND t.g % 2 = 0 THEN 'bigint'
              WHEN c.g = 3 AND t.g % 5 = 0 THEN 'int'
              ELSE ty.name END AS new_type
  FROM generate_series(0, 11) t(g)
  CROSS JOIN generate_series(0, 8) c(g)
  JOIN types ty ON ty.i = (t.g * 3 + c.g) % 5
  WHERE NOT (c.g = 7 AND t.g % 4 = 0)
    AND NOT (c.g = 8 AND t.g % 3 != 0)),
j AS (
  SELECT COALESCE(o.t, n.t) AS t, COALESCE(o.c, n.c) AS c,
         o.old_type, n.new_type
  FROM old o FULL OUTER JOIN new n ON n.t = o.t AND n.c = o.c),
cls AS (
  SELECT t,
         CASE WHEN old_type IS NULL THEN 'added'
              WHEN new_type IS NULL THEN 'dropped'
              WHEN old_type = new_type THEN 'unchanged'
              WHEN (old_type, new_type) IN (('int','bigint'),
                   ('float','double'), ('int','double'))
                THEN 'widened'
              ELSE 'narrowed' END AS k
  FROM j)
SELECT CAST(t AS BIGINT) AS t,
       CAST(SUM(CASE WHEN k='unchanged' THEN 1 ELSE 0 END) AS BIGINT)
         AS unchanged,
       CAST(SUM(CASE WHEN k='added' THEN 1 ELSE 0 END) AS BIGINT)
         AS added,
       CAST(SUM(CASE WHEN k='dropped' THEN 1 ELSE 0 END) AS BIGINT)
         AS dropped,
       CAST(SUM(CASE WHEN k='widened' THEN 1 ELSE 0 END) AS BIGINT)
         AS widened,
       CAST(SUM(CASE WHEN k='narrowed' THEN 1 ELSE 0 END) AS BIGINT)
         AS narrowed,
       SUM(CASE WHEN k IN ('dropped','narrowed') THEN 1 ELSE 0 END) > 0
         AS breaking
FROM cls GROUP BY t ORDER BY t
""",
    doc="Schema-evolution gate: old/new column catalogs full-outer-"
        "joined, every column classified (added/dropped/widened/"
        "narrowed/unchanged per the upcast rules), per-table breaking "
        "verdict — all replayed arithmetically.",
)


# ---------------------------------------------------------------------------
# Compaction planning — the lakehouse maintenance op that matters at
# 100 TB: group small files into target-size rewrite bins. The
# manifest (one month-file per orders month, bytes derived from row
# counts) is metadata — bounded by partition count, not data size — so
# the sequential NEXT-FIT walk runs in one applyInPandas group exactly
# like production planners run on the driver; the oracle replays every
# (bin, fill) transition with a recursive CTE. The target is derived
# from the total (total//12 + 1), so the plan is scale-free and the
# same query pins both scale factors.
# ---------------------------------------------------------------------------

def _compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    o = _t(spark, sf, "orders").select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long").alias("file_id"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"))
    manifest = (o.groupBy("file_id")
                .agg((F.count(F.lit(1)) * 100
                      + F.min("cents") % 1000).alias("bytes")))

    def plan(key, pdf):
        pdf = pdf.sort_values("file_id").reset_index(drop=True)
        target = int(pdf["bytes"].sum()) // 12 + 1
        rows = []
        bin_id, fill = 0, 0
        for r in pdf.itertuples():
            b = int(r.bytes)
            if fill > 0 and fill + b > target:
                bin_id += 1
                fill = 0
            fill += b
            rows.append({"file_id": int(r.file_id), "bytes": b,
                         "bin_id": bin_id, "bin_fill_after": fill,
                         "target": target})
        return pd.DataFrame(rows)

    return (manifest.withColumn("_g", F.lit(0))
            .groupBy("_g").applyInPandas(
                plan, "file_id long, bytes long, bin_id long,"
                      " bin_fill_after long, target long")
            .transform(_sorted1, "file_id"))


register(
    "compaction_plan",
    _compaction_plan,
    """
WITH RECURSIVE
m AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT)
           AS file_id,
         COUNT(*) * 100
           + MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) % 1000 AS bytes
  FROM orders GROUP BY 1),
o AS (SELECT *, ROW_NUMBER() OVER (ORDER BY file_id) AS rn FROM m),
t AS (SELECT SUM(bytes) // 12 + 1 AS target FROM m),
r AS (
  SELECT o.file_id, o.bytes, o.rn,
         CAST(0 AS BIGINT) AS bin_id,
         CAST(o.bytes AS BIGINT) AS fill
  FROM o WHERE o.rn = 1
  UNION ALL
  SELECT o.file_id, o.bytes, o.rn,
         CASE WHEN r.fill + o.bytes > t.target
              THEN r.bin_id + 1 ELSE r.bin_id END,
         CASE WHEN r.fill + o.bytes > t.target
              THEN o.bytes ELSE r.fill + o.bytes END
  FROM r JOIN o ON o.rn = r.rn + 1 CROSS JOIN t)
SELECT file_id, CAST(bytes AS BIGINT) AS bytes, bin_id,
       fill AS bin_fill_after,
       CAST(t.target AS BIGINT) AS target
FROM r CROSS JOIN t ORDER BY file_id
""",
    doc="Next-fit compaction planning over the month-file manifest "
        "(metadata-sized sequential walk, scale-free total//12+1 "
        "target); every (bin, fill) transition replayed by a "
        "recursive-CTE oracle.",
)


# ---------------------------------------------------------------------------
# Domain-concentration Gini — the data-mixing health number next to
# the per-domain caps: how concentrated is the corpus across
# registrable domains, per source? Exact integer form of the rank
# formula G = (2*sum(i*x_i) - (n+1)*S) / (n*S) over counts sorted
# ascending, published as a floor-divided milli value so both engines
# agree bit-for-bit. The rank window is bounded by the domain-key
# cardinality (20 here), the repo's standard bounded-frame posture.
# ---------------------------------------------------------------------------

def _gini_domain_concentration(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d = (_t(spark, sf, "documents")
         .select("source", (F.col("doc_id") % 20).alias("domain")))
    counts = (d.groupBy("source", "domain")
              .agg(F.count(F.lit(1)).alias("x")))
    w = Window.partitionBy("source").orderBy("x", "domain")
    ranked = counts.withColumn("i", F.row_number().over(w))
    return (ranked.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_domains"),
                 F.sum("x").alias("n_docs"),
                 F.sum(F.col("i") * F.col("x")).alias("rank_mass"))
            .withColumn("gini_milli",
                        F.expr("(1000 * (2 * rank_mass"
                               " - (n_domains + 1) * n_docs))"
                               " div (n_domains * n_docs)"))
            .transform(_sorted1, "source"))


register(
    "gini_domain_concentration",
    _gini_domain_concentration,
    """
WITH c AS (
  SELECT source, doc_id % 20 AS domain, COUNT(*) AS x
  FROM documents GROUP BY source, doc_id % 20),
r AS (
  SELECT source, x,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY x, domain) AS i
  FROM c)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_domains,
       CAST(SUM(x) AS BIGINT) AS n_docs,
       CAST(SUM(i * x) AS BIGINT) AS rank_mass,
       CAST((1000 * (2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x)))
            // (COUNT(*) * SUM(x)) AS BIGINT) AS gini_milli
FROM r GROUP BY source ORDER BY source
""",
    doc="Per-source domain-concentration Gini in exact integer milli "
        "form (rank formula over counts sorted ascending, tie-broken "
        "by domain, floor division matched both engines); rank window "
        "bounded by the 20-key domain space.",
)


# ---------------------------------------------------------------------------
# Near-duplicate CONSENSUS — the ensemble practice production dedup
# actually ships: a pair is dropped only when at least two independent
# detectors agree (MinHash lexical overlap, SimHash bit similarity,
# embedding-LSH semantic closeness), which suppresses each method's
# solo false positives. Built by COMPOSITION: the engine unions the
# three registered pair relations and votes; the oracle embeds the
# three REGISTERED oracle SQLs as CTEs and replays the same vote — so
# this query also pins the ensemble's building blocks against each
# other. Embedding votes exist only where vectors exist (vec ids are a
# prefix of the doc-id space in the fixtures); consensus just needs
# any two methods.
#
# The embedding branch composes the CAPPED LSH config
# (max_bucket_size=_ENP_CAP) — the scale-safe production shape, not the
# uncapped registered baseline: SCALING.md measured the uncapped branch
# at sf1 exponent 1.48 (243.7s — a dense cluster no hyperplane splits
# makes one bucket's pair mass quadratic) vs 57.7s with the cap. Capped
# buckets are mutually-similar mass that the CLUSTER-level path
# (SemDeDup) owns; pairwise consensus votes only on the pairwise-sized
# remainder. The oracle mirrors the cap bit-exactly (bucket census +
# HAVING <= cap on the join bucket).
# ---------------------------------------------------------------------------

_ENP_CAP = 256


def _neardup_consensus(spark: SparkSession, sf: str) -> DataFrame:
    from .registry import _REGISTRY
    mh = (_REGISTRY["minhash_dedup_pairs"].fn(spark, sf)
          .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
          .withColumn("mh", F.lit(1)).withColumn("sh", F.lit(0))
          .withColumn("em", F.lit(0)))
    # Same relation as _REGISTRY["simhash_near_pairs"] (the registered
    # query is simhash_near_pairs(documents, max_hamming=3)) minus its
    # presentation sort: the vote re-aggregates, so sorting 3.1M pair
    # rows (and the range-sampling re-execution that sort costs) is
    # pure waste here — measured 9.1 s → ~5 s for the whole ensemble.
    sh = (simhash_near_pairs(_t(spark, sf, "documents"), max_hamming=3,
                             sort=False)
          .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
          .withColumn("mh", F.lit(0)).withColumn("sh", F.lit(1))
          .withColumn("em", F.lit(0)))
    em = (embedding_neardup_lsh(_t(spark, sf, "embeddings"),
                                threshold=_ENP_THRESHOLD,
                                n_planes=_ENP_PLANES, n_probe=2,
                                max_bucket_size=_ENP_CAP)
          .select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
          .withColumn("mh", F.lit(0)).withColumn("sh", F.lit(0))
          .withColumn("em", F.lit(1)))
    # r12 vote restructure: a ≥2-of-3 pair MUST appear in minhash or
    # embedding (a simhash-only pair has one vote), and those two
    # relations are collision-sized while simhash's is the 3.1 M-row
    # bulk. So the vote aggregates only mh ∪ em, and simhash
    # participation is a MEMBERSHIP probe: a semi join of the simhash
    # relation against the small candidate set (AQE broadcasts the
    # small side; the 3.1 M rows are never shuffled into a wide
    # grouping). Identical result set: the old groupBy over the full
    # union kept a simhash-only pair only to drop it at votes >= 2.
    # ``small`` feeds both the probe build side and the vote's left
    # side; persisting it runs the minhash/embedding pipelines once
    # (same cache-lifetime contract as the LSH shingle frames), and
    # the explicit broadcasts keep the 3.1 M-row side out of
    # SortMergeJoin sorts.
    small = (mh.unionByName(em)
             .groupBy("a", "b")
             .agg(F.max("mh").alias("mh"), F.max("em").alias("em"))
             .persist())
    hits = (sh.select("a", "b")
            .join(F.broadcast(small.select("a", "b")), ["a", "b"],
                  "left_semi")
            .distinct()
            .withColumn("sh", F.lit(1)))
    v = (small.join(F.broadcast(hits), ["a", "b"], "left")
         .select("a", "b", "mh", "em",
                 F.coalesce(F.col("sh"), F.lit(0)).alias("sh")))
    return (v.withColumn("votes",
                         (F.col("mh") + F.col("sh") + F.col("em"))
                         .cast("long"))
            .filter(F.col("votes") >= 2)
            .select(F.col("a").alias("doc_a"),
                    F.col("b").alias("doc_b"), "votes",
                    (F.col("mh") == 1).alias("via_minhash"),
                    (F.col("sh") == 1).alias("via_simhash"),
                    (F.col("em") == 1).alias("via_embedding"))
            .transform(_sorted1, "doc_a", "doc_b"))


def _enp_capped_oracle() -> str:
    """DuckDB twin of the CAPPED embedding-LSH detector: identical to
    the registered `embedding_neardup_pairs` oracle (same bucket
    expression, same 2-probe explode, same fold cosine) plus the bucket
    census + `HAVING COUNT(*) <= cap` semi-join. The Spark side filters
    BOTH join inputs to kept buckets, but since the candidate join
    requires bucket equality, one keep-join on the shared bucket is the
    same relation."""
    return f"""
WITH bkt AS (
  SELECT vec_id, embedding,
         {duck_lsh_bucket_expr('embedding', _ENP_PLANES)} AS bucket
  FROM embeddings),
keep AS (SELECT bucket FROM bkt GROUP BY bucket
         HAVING COUNT(*) <= {_ENP_CAP}),
a AS (SELECT vec_id, embedding,
             unnest([bucket, xor(bucket, 1)]) AS bucket FROM bkt),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_duck_dot('a.embedding', 'b.embedding')}
           / (sqrt({_duck_dot('a.embedding', 'a.embedding')})
              * sqrt({_duck_dot('b.embedding', 'b.embedding')})) AS cosine
  FROM a JOIN bkt b USING (bucket) JOIN keep USING (bucket)
  WHERE a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cosine FROM cand
WHERE cosine >= {_ENP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


def _neardup_consensus_oracle() -> str:
    from .registry import _REGISTRY
    mh = _REGISTRY["minhash_dedup_pairs"].oracle
    sh = _REGISTRY["simhash_near_pairs"].oracle
    em = _enp_capped_oracle()
    return f"""
WITH mh_pairs AS ({mh}),
sh_pairs AS ({sh}),
em_pairs AS ({em}),
u AS (
  SELECT doc_a AS a, doc_b AS b, 1 AS mh, 0 AS sh, 0 AS em FROM mh_pairs
  UNION ALL
  SELECT doc_a, doc_b, 0, 1, 0 FROM sh_pairs
  UNION ALL
  SELECT vec_a, vec_b, 0, 0, 1 FROM em_pairs),
v AS (SELECT a, b, MAX(mh) AS mh, MAX(sh) AS sh, MAX(em) AS em
      FROM u GROUP BY a, b)
SELECT a AS doc_a, b AS doc_b,
       CAST(mh + sh + em AS BIGINT) AS votes,
       mh = 1 AS via_minhash, sh = 1 AS via_simhash,
       em = 1 AS via_embedding
FROM v WHERE mh + sh + em >= 2 ORDER BY doc_a, doc_b
"""


register(
    "neardup_consensus",
    _neardup_consensus,
    _neardup_consensus_oracle(),
    doc="Near-dup consensus ensemble: pairs confirmed by >=2 of "
        "MinHash/SimHash/embedding-LSH, composing the CAPPED embedding "
        "detector (max_bucket_size=256, the scale-safe config — "
        "SCALING.md: sf1 243.7s/exp 1.48 uncapped vs 57.7s capped); "
        "the oracle embeds the same three detector SQLs as CTEs, cap "
        "mirrored via bucket census + HAVING, and replays the vote.",
)


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring — the smoothing real perplexity
# filters use (CCNet trains KN 5-grams via KenLM; this is the same
# estimator at bigram order, exactly). Distinct from lm_bigram_quality's
# add-1 baseline: KN backs off to the CONTINUATION count N1+(*,w2) —
# "how many contexts does w2 complete" — which is what separates
# high-frequency-but-context-bound tokens from genuinely productive
# ones. Same no-log discipline: probabilities are fixed trees of
# integer-count IEEE divisions, the per-doc mean folds in position
# order, MIN is order-free.
# ---------------------------------------------------------------------------

def _kneser_ney(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import kneser_ney_scores
    return kneser_ney_scores(_t(spark, sf, "documents"))


register(
    "kneser_ney_perplexity",
    _kneser_ney,
    f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
pos AS (SELECT doc_id, unnest(tk) AS w1,
               generate_subscripts(tk, 1) AS pos FROM toks),
big AS (SELECT doc_id, pos, w1,
               lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM pos),
bg AS (SELECT * FROM big WHERE w2 IS NOT NULL),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
h AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n_after FROM c12 GROUP BY w1),
f AS (SELECT w2, COUNT(*) AS n_before FROM c12 GROUP BY w2),
b AS (SELECT COUNT(*) AS bt FROM c12),
p AS (SELECT bg.doc_id, bg.pos,
             (GREATEST(CAST(c12.c12 AS DOUBLE) - 0.75, 0.0)
              + 0.75 * CAST(h.n_after AS DOUBLE)
                * (CAST(f.n_before AS DOUBLE) / CAST(b.bt AS DOUBLE)))
             / CAST(h.c1 AS DOUBLE) AS p
      FROM bg
      JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
      JOIN h ON h.w1 = bg.w1
      JOIN f ON f.w2 = bg.w2
      CROSS JOIN b)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                list(p ORDER BY pos)),
                   (a, x) -> a + x) / COUNT(*) AS mean_kn_p,
       MIN(p) AS min_kn_p
FROM p GROUP BY doc_id ORDER BY doc_id
""",
    doc="Interpolated Kneser-Ney bigram quality signal (Kneser & Ney "
        "1995; Chen & Goodman 1998): absolute discounting plus the "
        "continuation-count backoff real perplexity filters use — "
        "per-doc mean (position-ordered fold) and min of exact "
        "integer-count probability trees, bit-identical cross-engine.",
)


# ---------------------------------------------------------------------------
# Eval-set decontamination by bounded edit distance — the fuzzy tier
# below exact-substring / n-gram decontam: a benchmark prompt that
# appears in training data with one typo or dropped word still leaks
# the answer. Fixture: every 13th document donates its 5-token prefix
# as an "eval prompt", corrupted by dropping its 3rd character (so the
# planted true match sits at distance 1). Both engines score with
# their native levenshtein; the join key is an ANCHOR TOKEN (the last
# token — prefix corruptions never touch it; real decontam blocks on a
# rare-token anchor the same way) plus a LENGTH BAND (bucket width 4,
# prompts fan out to the 3 buckets any string within distance 3 can
# occupy — |len(a)-len(b)| <= lev(a,b)), so the candidate set is
# block-local, never all-pairs: the same pigeonhole discipline as the
# SimHash chunk bands. Blocking defines the (documented) recall bound,
# exactly as in production fuzzy decontam. Scale: prompts are eval-set-sized (broadcast);
# candidates shuffle once on the band key.
# ---------------------------------------------------------------------------

def _levenshtein_decontam(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import tokens
    d = _t(spark, sf, "documents")
    tk = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    cand = (tk.where(F.size("tk") >= 5)
            .select("doc_id",
                    F.array_join(F.slice("tk", 1, 5), " ").alias("s")))
    # The eval set is a FIXED benchmark, not a corpus-growing slice:
    # capped at 400 prompts (deterministic id order), so block-local
    # pair volume grows linearly with the corpus — uncapped, prompts
    # x candidates both scale and the join is quadratic (measured
    # exponent 1.39 at the sf0.1->sf1 decade; 1.0 with the cap).
    prompts = (cand.where(F.col("doc_id") % 13 == 0)
               .orderBy("doc_id").limit(400)
               .select(F.col("doc_id").alias("eval_id"),
                       F.concat(F.substring("s", 1, 2),
                                F.expr("substring(s, 4)")).alias("q")))

    def band(length, off):
        return F.floor((length + F.lit(off)).cast("double") / 4.0)

    anchor = lambda c: F.element_at(F.split(c, " "), -1)  # noqa: E731
    pb = prompts.select(
        "eval_id", "q", anchor(F.col("q")).alias("anch"),
        F.explode(F.array_distinct(F.array(
            band(F.length("q"), -3), band(F.length("q"), 0),
            band(F.length("q"), 3)))).alias("band"))
    cb = cand.select("doc_id", "s", anchor(F.col("s")).alias("anch"),
                     band(F.length("s"), 0).alias("band"))
    pairs = (F.broadcast(pb).join(cb, ["anch", "band"])
             .where(F.abs(F.length("q") - F.length("s")) <= 3)
             .select("eval_id", "doc_id",
                     F.levenshtein("q", "s").alias("dist")))
    # One aggregation instead of agg + join-back + second agg (guide
    # §2.4): min over (dist, doc_id) structs IS (best_dist, smallest
    # best-doc at that distance) — struct ordering is lexicographic —
    # so the pairs subtree (tokenize + broadcast band join) executes
    # once, not twice.
    best = pairs.groupBy("eval_id").agg(
        F.min(F.struct("dist", "doc_id")).alias("m"),
        F.count(F.lit(1)).alias("n_cand"))
    return (best.select("eval_id", "n_cand",
                        F.col("m.dist").alias("best_dist"),
                        F.col("m.doc_id").alias("best_doc"),
                        (F.col("m.dist") <= 3).alias("contaminated"))
            .transform(_sorted1, "eval_id"))


register(
    "levenshtein_decontam",
    _levenshtein_decontam,
    """
WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
            FROM documents),
cand AS (SELECT doc_id, array_to_string(tk[1:5], ' ') AS s
         FROM tk WHERE len(tk) >= 5),
prompts AS (SELECT doc_id AS eval_id,
                   substr(s, 1, 2) || substr(s, 4) AS q
            FROM cand WHERE doc_id % 13 = 0
            ORDER BY doc_id LIMIT 400),
pb AS (SELECT eval_id, q,
              (string_split(q, ' '))[-1] AS anch,
              unnest(list_distinct([
            CAST(floor((length(q) - 3) / 4.0) AS BIGINT),
            CAST(floor(length(q) / 4.0) AS BIGINT),
            CAST(floor((length(q) + 3) / 4.0) AS BIGINT)])) AS band
       FROM prompts),
cb AS (SELECT doc_id, s, (string_split(s, ' '))[-1] AS anch,
              CAST(floor(length(s) / 4.0) AS BIGINT) AS band
       FROM cand),
pairs AS (SELECT p.eval_id, c.doc_id,
                 CAST(levenshtein(p.q, c.s) AS INT) AS dist
          FROM pb p JOIN cb c ON c.anch = p.anch AND c.band = p.band
          WHERE abs(length(p.q) - length(c.s)) <= 3),
best AS (SELECT eval_id, MIN(dist) AS best_dist,
                CAST(COUNT(*) AS BIGINT) AS n_cand
         FROM pairs GROUP BY eval_id),
bdoc AS (SELECT p.eval_id, MIN(p.doc_id) AS best_doc
         FROM pairs p JOIN best b
           ON b.eval_id = p.eval_id AND p.dist = b.best_dist
         GROUP BY p.eval_id)
SELECT b.eval_id, b.n_cand, b.best_dist, d.best_doc,
       b.best_dist <= 3 AS contaminated
FROM best b JOIN bdoc d ON d.eval_id = b.eval_id
ORDER BY b.eval_id
""",
    doc="Fuzzy eval-set decontamination: native levenshtein over an "
        "anchor-token + length-band candidate block (|len diff| "
        "bounds edit distance; the anchor token survives prefix "
        "corruption) — planted typo'd prompts resolve to their source "
        "doc at distance 1; never all-pairs.",
)


# ---------------------------------------------------------------------------
# Length-matched sampling — the distribution-matching cousin of the
# temperature mix: thin a candidate pool so its LENGTH histogram matches
# a reference slice (here: match non-English docs to the English length
# profile), the standard control when ablating a data source so length
# confounds don't masquerade as quality effects. Accept/reject is a
# deterministic per-doc hash threshold against the per-bucket ratio
# target_share/pool_share: h/2^48 is an EXACT power-of-two division and
# the ratio is one correctly-rounded division of exact integer products
# (< 2^53), so the verdict is bit-stable under any partitioning — same
# discipline as stratified_sample_docs. One count agg per side, one
# broadcast-sized bucket join; never a global sort.
# ---------------------------------------------------------------------------

def _length_matched_sample(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import md5_hash
    d = _t(spark, sf, "documents").select(
        "doc_id", "lang",
        F.floor(F.col("n_chars").cast("double") / 64.0).alias("bucket"))
    tgt = (d.where(F.col("lang") == "en")
           .groupBy("bucket").agg(F.count(F.lit(1)).alias("tn")))
    tt = d.where(F.col("lang") == "en").agg(
        F.count(F.lit(1)).alias("tt"))
    pool = d.where(F.col("lang") != "en")
    pc = pool.groupBy("bucket").agg(F.count(F.lit(1)).alias("pn"))
    pt = pool.agg(F.count(F.lit(1)).alias("pt"))
    ratio = ((F.coalesce(F.col("tn"), F.lit(0)) * F.col("pt"))
             .cast("double")
             / (F.col("pn") * F.col("tt")).cast("double"))
    h = md5_hash(F.concat(F.lit("lms:"), F.col("doc_id")))
    scored = (pool.join(F.broadcast(pc), "bucket")
              .join(F.broadcast(tgt), "bucket", "left")
              .crossJoin(F.broadcast(tt)).crossJoin(F.broadcast(pt))
              .select("bucket", "doc_id",
                      ratio.alias("ratio"),
                      (h.cast("double") / F.lit(281474976710656.0)
                       < ratio).alias("accept")))
    return (scored.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("pool_n"),
                 F.sum(F.when(F.col("accept"), 1).otherwise(0))
                  .cast("long").alias("accepted_n"),
                 F.min("ratio").alias("accept_ratio"))
            .transform(_sorted1, "bucket"))


register(
    "length_matched_sample",
    _length_matched_sample,
    """
WITH d AS (SELECT doc_id, lang,
                  CAST(floor(n_chars / 64.0) AS BIGINT) AS bucket
           FROM documents),
tgt AS (SELECT bucket, COUNT(*) AS tn FROM d WHERE lang = 'en'
        GROUP BY bucket),
tt AS (SELECT COUNT(*) AS tt FROM d WHERE lang = 'en'),
pool AS (SELECT * FROM d WHERE lang <> 'en'),
pc AS (SELECT bucket, COUNT(*) AS pn FROM pool GROUP BY bucket),
pt AS (SELECT COUNT(*) AS pt FROM pool),
scored AS (
  SELECT p.bucket, p.doc_id,
         CAST(COALESCE(t.tn, 0) * pt.pt AS DOUBLE)
           / CAST(c.pn * tt.tt AS DOUBLE) AS ratio,
         CAST(('0x' || substr(md5('lms:' || CAST(p.doc_id AS VARCHAR)),
                              1, 12))::BIGINT AS DOUBLE)
           / 281474976710656.0
           < CAST(COALESCE(t.tn, 0) * pt.pt AS DOUBLE)
             / CAST(c.pn * tt.tt AS DOUBLE) AS accept
  FROM pool p
  JOIN pc c ON c.bucket = p.bucket
  LEFT JOIN tgt t ON t.bucket = p.bucket
  CROSS JOIN tt CROSS JOIN pt)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS pool_n,
       CAST(SUM(CASE WHEN accept THEN 1 ELSE 0 END) AS BIGINT)
         AS accepted_n,
       MIN(ratio) AS accept_ratio
FROM scored GROUP BY bucket ORDER BY bucket
""",
    doc="Length-matched source ablation sampling: per-bucket "
        "accept/reject hash thresholds reshape the non-English pool "
        "to the English length histogram — exact integer-product "
        "ratios, power-of-two-exact hash normalization, one broadcast "
        "bucket join.",
)


# ---------------------------------------------------------------------------
# Sitemap XML extraction — the crawl-seeding counterpart of
# robots_txt_gate: sitemaps.org XML is how sites publish their URL
# inventory (loc/lastmod/priority per <url> entry), and a crawler's
# frontier starts from exactly this parse. Each of 20 domains builds a
# genuine <urlset> document from its docs (ordered string_agg), and the
# OPERATOR is the parse back out: non-greedy <url> block extraction,
# per-field regex, date + priority typing. Spec note: the sitemap
# protocol caps one file at 50k URLs / 50 MB, so the per-domain string
# agg is bounded by the format itself — at crawl scale each fetched
# sitemap file is one row and the explode is partition-local.
# ---------------------------------------------------------------------------

def _sitemap_url_extract(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select(
        "doc_id", (F.col("doc_id") % 20).alias("k"))
    entry = F.concat(
        F.lit("<url><loc>https://d"), F.col("k"),
        F.lit(".example.com/doc/"), F.col("doc_id"),
        F.lit("</loc><lastmod>2024-"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><priority>0."), F.col("doc_id") % 10,
        F.lit("</priority></url>"))
    xml = (d.select("k", F.struct("doc_id", entry.alias("e")).alias("s"))
           .groupBy("k")
           .agg(F.concat(
               F.lit('<?xml version="1.0"?><urlset>'),
               F.concat_ws("", F.transform(
                   F.array_sort(F.collect_list("s")),
                   lambda x: x["e"])),
               F.lit("</urlset>")).alias("xml")))
    blocks = xml.select(
        "k", F.explode(F.expr(
            r"regexp_extract_all(xml, '<url>(.*?)</url>', 1)"))
        .alias("u"))
    return (blocks.select(
        F.concat(F.lit("d"), F.col("k"), F.lit(".example.com"))
         .alias("domain"),
        F.regexp_extract("u", "<loc>(.*?)</loc>", 1).alias("loc"),
        F.to_date(F.regexp_extract("u", "<lastmod>(.*?)</lastmod>", 1),
                  "yyyy-MM-dd").alias("lastmod"),
        F.regexp_extract("u", "<priority>(.*?)</priority>", 1)
         .cast("double").alias("priority"))
        .transform(_sorted1, "loc"))


register(
    "sitemap_url_extract",
    _sitemap_url_extract,
    """
WITH d AS (SELECT doc_id, doc_id % 20 AS k FROM documents),
e AS (SELECT k, doc_id,
             '<url><loc>https://d' || CAST(k AS VARCHAR)
             || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
             || '</loc><lastmod>2024-'
             || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-'
             || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             || '</lastmod><priority>0.'
             || CAST(doc_id % 10 AS VARCHAR)
             || '</priority></url>' AS entry
      FROM d),
x AS (SELECT k, '<?xml version="1.0"?><urlset>'
             || string_agg(entry, '' ORDER BY doc_id)
             || '</urlset>' AS xml
      FROM e GROUP BY k),
b AS (SELECT k, unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1))
             AS u
      FROM x)
SELECT 'd' || CAST(k AS VARCHAR) || '.example.com' AS domain,
       regexp_extract(u, '<loc>(.*?)</loc>', 1) AS loc,
       CAST(regexp_extract(u, '<lastmod>(.*?)</lastmod>', 1) AS DATE)
         AS lastmod,
       CAST(regexp_extract(u, '<priority>(.*?)</priority>', 1)
            AS DOUBLE) AS priority
FROM b ORDER BY loc
""",
    doc="sitemaps.org <urlset> build + parse: per-domain ordered XML "
        "assembly, non-greedy block extraction, typed loc/lastmod/"
        "priority fields — the crawl-frontier seeding parse, bounded "
        "per file by the protocol's own 50k-URL cap.",
)


# ---------------------------------------------------------------------------
# Phonetic blocking (entity resolution): Soundex-key candidate blocks —
# the classic cheap blocking function for person/org name dedup
# (Fellegi-Sunter pipelines block on phonetic keys before scoring).
# Both sides compute the SAME simplified American Soundex: letter→digit
# map via translate, adjacent-duplicate collapse over the full code
# sequence (so 'pf' folds like the standard), zero-drop, first letter +
# 3 digits. Simplification, documented: H/W are coded 0 like vowels
# (they separate equal codes; standard Soundex merges across them) —
# deterministic and identical cross-engine, which is what a blocking
# key must be. Names: a 40-surname universe keyed by custkey, with a
# planted char-swap typo every 7th customer — swaps inside a code run
# keep the key, cross-class swaps break it, both visible in the block
# roster. Scale: one groupBy on the key; block sizes are bounded by
# the name-universe, never corpus-sized.
# ---------------------------------------------------------------------------

_SURNAMES = [
    "smith", "smyth", "johnson", "jonson", "williams", "brown", "braun",
    "jones", "garcia", "miller", "mueller", "davis", "rodriguez",
    "martinez", "hernandez", "lopez", "gonzalez", "wilson", "anderson",
    "thomas", "taylor", "moore", "jackson", "martin", "lee", "perez",
    "thompson", "white", "harris", "sanchez", "clark", "clarke",
    "ramirez", "lewis", "robinson", "walker", "young", "allen",
    "wright", "schmidt",
]

_SOUNDEX_FROM = "abcdefghijklmnopqrstuvwxyz"
_SOUNDEX_TO = "01230120022455012623010202"


def _phonetic_blocking(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").select("c_custkey")
    base = F.element_at(
        F.array(*[F.lit(s) for s in _SURNAMES]),
        (F.col("c_custkey") % 40 + 1).cast("int"))
    name = F.when(
        F.col("c_custkey") % 7 == 0,
        F.concat(F.substring(base, 1, 1), F.substring(base, 3, 1),
                 F.substring(base, 2, 1), F.expr(
                     "substring(element_at(array("
                     + ",".join(f"'{s}'" for s in _SURNAMES)
                     + "), cast(c_custkey % 40 + 1 as int)), 4)"))
    ).otherwise(base)
    d = c.select("c_custkey", name.alias("name"))
    d = d.withColumn(
        "codes", F.translate(F.col("name"), _SOUNDEX_FROM, _SOUNDEX_TO))
    d = d.withColumn("arr", F.expr(
        "transform(sequence(1, length(codes)), i -> substr(codes, i, 1))"))
    # Spark lambda index and arr[] are both 0-based; DuckDB's are 1-based
    # — each side reads "previous element" in its own convention.
    d = d.withColumn("dedup", F.expr(
        "filter(arr, (x, i) -> i = 0 OR x != arr[i - 1])"))
    d = d.withColumn("tail3", F.expr(
        "rpad(concat_ws('', slice(filter("
        "slice(dedup, 2, size(dedup)), x -> x != '0'), 1, 3)), 3, '0')"))
    d = d.select(
        "c_custkey", "name",
        F.concat(F.upper(F.substring("name", 1, 1)), F.col("tail3"))
         .alias("skey"))
    return (d.groupBy("skey")
            .agg(F.count(F.lit(1)).alias("block_size"),
                 F.countDistinct("name").alias("distinct_names"),
                 F.concat_ws("|", F.array_sort(
                     F.collect_set("name"))).alias("roster"))
            .withColumn("est_pairs",
                        (F.col("block_size") * (F.col("block_size") - 1)
                         / 2).cast("long"))
            .transform(_sorted1, "skey"))


register(
    "phonetic_blocking",
    _phonetic_blocking,
    f"""
WITH names AS (
  SELECT c_custkey,
         (['{"','".join(_SURNAMES)}'])[
             CAST(c_custkey % 40 + 1 AS INT)] AS base
  FROM customer),
n AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0
              THEN substr(base, 1, 1) || substr(base, 3, 1)
                   || substr(base, 2, 1) || substr(base, 4)
              ELSE base END AS name
  FROM names),
coded AS (
  SELECT c_custkey, name,
         list_transform(range(1, length(name) + 1),
             i -> substr(translate(name, '{_SOUNDEX_FROM}',
                                   '{_SOUNDEX_TO}'), i, 1)) AS arr
  FROM n),
keyed AS (
  SELECT c_custkey, name,
         upper(substr(name, 1, 1))
         -- COALESCE: DuckDB's array_to_string([]) is NULL, not ''
         || rpad(COALESCE(array_to_string(
                list_filter(
                    (list_filter(arr,
                                 (x, i) -> i = 1 OR x <> arr[i - 1]))[2:],
                    x -> x <> '0'), ''), ''), 3, '0') AS skey
  FROM coded)
SELECT skey,
       CAST(COUNT(*) AS BIGINT) AS block_size,
       CAST(COUNT(DISTINCT name) AS BIGINT) AS distinct_names,
       array_to_string(list_sort(list(DISTINCT name)), '|') AS roster,
       CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS est_pairs
FROM keyed GROUP BY skey ORDER BY skey
""",
    doc="Soundex phonetic blocking for entity resolution: shared "
        "simplified code spec (translate map, index-lambda adjacent "
        "collapse, zero drop, letter+3 key), planted char-swap typos, "
        "per-block roster + candidate-pair mass — the step before "
        "pairwise match scoring.",
)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign-projection audit — the dimensionality-
# reduction step real ANN systems run before indexing (Achlioptas 2003:
# +-1 entries preserve inner products in expectation; JL gives the
# distance-distortion bound). The projection matrix is a deterministic
# md5-parity sign pattern (no RNG — same no-randomness rule as the
# whole repo), inlined identically into both engines, and the audit
# compares original 64-d cosine vs projected 16-d cosine over a
# probe x candidate panel: per-probe mean |distortion| (candidate-
# ordered fold) and max. Scale: projections are computed per-row
# before the join (narrow map), the probe side is an itemized
# broadcast, and the panel is probe-bounded — the same BNLJ shape as
# ann_cosine_topk.
# ---------------------------------------------------------------------------

def _jl_matrix() -> list[list[float]]:
    import hashlib
    return [[1.0 if int(hashlib.md5(f"jl:{j}:{i}".encode())
                        .hexdigest()[:2], 16) % 2 == 0 else -1.0
             for i in range(64)] for j in range(16)]


def _jl_projection_audit(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.exact import ddot
    R = _jl_matrix()
    rlit = F.array(*[F.array(*[F.lit(x) for x in row]) for row in R])

    def proj(v):
        return F.transform(rlit, lambda row: F.aggregate(
            F.zip_with(row, v,
                       lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0), lambda a, x: a + x))

    emb = _t(spark, sf, "embeddings")

    def side(pred, idn):
        d = emb.where(pred).select(
            F.col("vec_id").alias(idn),
            F.col("embedding").alias(f"{idn}_v"),
            proj(F.col("embedding")).alias(f"{idn}_p"))
        return d.select(
            idn, f"{idn}_v", f"{idn}_p",
            ddot(F.col(f"{idn}_v"), F.col(f"{idn}_v")).alias(f"{idn}_n2"),
            ddot(F.col(f"{idn}_p"), F.col(f"{idn}_p")).alias(f"{idn}_pn2"))

    p = side(F.col("vec_id") % 40 == 0, "pid")
    c = side(F.col("vec_id") % 3 == 0, "cid")
    pairs = (F.broadcast(p).crossJoin(c)
             .where(F.col("pid") != F.col("cid"))
             .select("pid", "cid",
                     (ddot(F.col("pid_v"), F.col("cid_v"))
                      / (F.sqrt("pid_n2") * F.sqrt("cid_n2")))
                     .alias("cos_o"),
                     (ddot(F.col("pid_p"), F.col("cid_p"))
                      / (F.sqrt("pid_pn2") * F.sqrt("cid_pn2")))
                     .alias("cos_p")))
    e = pairs.select("pid", "cid",
                     F.abs(F.col("cos_p") - F.col("cos_o")).alias("err"))
    agg = (e.groupBy("pid")
           .agg(F.array_sort(F.collect_list(F.struct("cid", "err")))
                .alias("es"),
                F.max("err").alias("max_abs_err")))
    vals = F.transform(F.col("es"), lambda x: x["err"])
    fold = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
    return (agg.select(F.col("pid").alias("probe_id"),
                       F.size("es").cast("long").alias("n_pairs"),
                       (fold / F.size("es")).alias("mean_abs_err"),
                       "max_abs_err")
            .transform(_sorted1, "probe_id"))


def _jl_oracle() -> str:
    R = _jl_matrix()
    rlit = "[" + ", ".join(
        "[" + ", ".join(f"{x:.1f}" for x in row) + "]" for row in R) + "]"
    proj = (f"list_transform({rlit}, row -> "
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(range(1, 65), "
            "i -> CAST(row[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), "
            "(a, x) -> a + x))")
    return f"""
WITH sides AS (
  SELECT vec_id, embedding, {proj} AS pr,
         {_duck_dot('embedding', 'embedding')} AS n2
  FROM embeddings),
s2 AS (SELECT vec_id, embedding, pr, n2,
              {_duck_dot('pr', 'pr')} AS pn2
       FROM sides),
p AS (SELECT vec_id AS pid, embedding AS pv, pr AS pp,
             n2 AS pn2, pn2 AS ppn2
      FROM s2 WHERE vec_id % 40 = 0),
c AS (SELECT vec_id AS cid, embedding AS cv, pr AS cp,
             n2 AS cn2, pn2 AS cpn2
      FROM s2 WHERE vec_id % 3 = 0),
pairs AS (
  SELECT pid, cid,
         {_duck_dot('pv', 'cv')} / (sqrt(pn2) * sqrt(cn2)) AS cos_o,
         {_duck_dot('pp', 'cp')} / (sqrt(ppn2) * sqrt(cpn2)) AS cos_p
  FROM p CROSS JOIN c WHERE pid <> cid),
e AS (SELECT pid, cid, abs(cos_p - cos_o) AS err FROM pairs)
SELECT pid AS probe_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                list(err ORDER BY cid)),
                   (a, x) -> a + x) / COUNT(*) AS mean_abs_err,
       MAX(err) AS max_abs_err
FROM e GROUP BY pid ORDER BY probe_id
"""


register(
    "jl_projection_audit",
    _jl_projection_audit,
    _jl_oracle(),
    doc="JL sign-random-projection audit (Achlioptas 2003): "
        "deterministic md5-parity +-1 matrix, 64d -> 16d, per-probe "
        "mean/max cosine distortion over a broadcast probe panel — "
        "ordered folds keep every double bit-identical cross-engine.",
)


# ---------------------------------------------------------------------------
# Holt's linear-trend smoothing (double exponential smoothing — the
# trend tier above ewma_user_activity's simple EWMA; Holt 1957): the
# operational-forecasting primitive for capacity planning over daily
# monthly revenue. State is the coupled (level, trend) pair, so the Spark fold
# carries a STRUCT accumulator over the date-sorted series (α = 1/2
# exact binary; β = 0.3/0.7 same literals both engines), and the
# oracle replays the identical recurrence as a recursive CTE. The
# nested l_new expression is deliberately duplicated inside b_new —
# identical IEEE trees, identical values. Scale: series are per-GROUP
# (priority) and bounded by the date span, never order volume — state
# is one (date, revenue) list per group, the same per-key-bounded
# shape as sessionization; groups smooth in parallel.
# ---------------------------------------------------------------------------

def _holt_winters_forecast(spark: SparkSession, sf: str) -> DataFrame:
    from .functions.exact import dsum
    o = _t(spark, sf, "orders")
    daily = (o.select(F.col("o_orderpriority").alias("pr"),
                      F.trunc("o_orderdate", "month").alias("d"),
                      F.col("o_totalprice"))
             .groupBy("pr", "d")
             .agg(dsum(F.col("o_totalprice")).alias("y")))
    arr = F.array_sort(F.collect_list(F.struct("d", "y")))
    g = daily.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.max("d").alias("last_month"),
        arr.alias("sv"))
    e1 = F.element_at(F.col("sv"), 1)["y"]
    e2 = F.element_at(F.col("sv"), 2)["y"]
    init = F.struct(e1.alias("l"), (e2 - e1).alias("b"))

    def step(acc, x):
        l_new = 0.5 * x["y"] + 0.5 * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (0.3 * (l_new - acc["l"]) + 0.7 * acc["b"]).alias("b"))

    state = F.aggregate(
        F.slice(F.col("sv"), 2, F.greatest(F.size("sv") - 1, F.lit(0))),
        init, step)
    # Holt's init needs two observations (b0 = y2 - y1): a one-month
    # group has no defined trend, so it is EXCLUDED rather than emitted
    # with NULLs — this also matches the oracle, whose recursive base
    # inner-joins s2.rn = 2 and therefore drops such groups (ADVICE r8).
    return (g.filter(F.col("n_months") >= 2)
        .select(
        "pr", "n_months", "last_month",
        state["l"].alias("level"), state["b"].alias("trend"),
        (state["l"] + F.lit(3.0) * state["b"]).alias("forecast_3m"))
        .transform(_sorted1, "pr"))


register(
    "holt_winters_forecast",
    _holt_winters_forecast,
    """
WITH RECURSIVE
daily AS (SELECT o_orderpriority AS pr,
                 CAST(date_trunc('month', o_orderdate) AS DATE) AS d,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE) AS y
          FROM orders GROUP BY 1, 2),
seq AS (SELECT pr, d, y,
               ROW_NUMBER() OVER (PARTITION BY pr ORDER BY d) AS rn
        FROM daily),
n AS (SELECT pr, MAX(rn) AS n, CAST(MAX(d) AS DATE) AS last_month
      FROM seq GROUP BY pr),
r AS (
  SELECT s1.pr, CAST(1 AS BIGINT) AS rn,
         s1.y AS l, s2.y - s1.y AS b
  FROM seq s1 JOIN seq s2 ON s2.pr = s1.pr AND s2.rn = 2
  WHERE s1.rn = 1
  UNION ALL
  SELECT r.pr, r.rn + 1,
         0.5 * s.y + 0.5 * (r.l + r.b),
         0.3 * ((0.5 * s.y + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b
  FROM r
  JOIN seq s ON s.pr = r.pr AND s.rn = r.rn + 1
  JOIN n ON n.pr = r.pr
  WHERE r.rn < n.n)
SELECT r.pr, CAST(n.n AS BIGINT) AS n_months, n.last_month,
       r.l AS level, r.b AS trend,
       r.l + 3.0 * r.b AS forecast_3m
FROM r JOIN n ON n.pr = r.pr AND r.rn = n.n
ORDER BY r.pr
""",
    doc="Holt double exponential smoothing per order priority: struct-"
        "state fold over the month-sorted revenue series (exact-decimal "
        "monthly sums), recursive-CTE oracle replaying the identical "
        "(level, trend) recurrence, 3-month-ahead linear forecast — "
        "bit-exact across engines.",
)


# ---------------------------------------------------------------------------
# FLAC decode roundtrip — the lossless compressed format audio corpora
# actually ship in, closing the audio family the way jpeg/gif/tiff
# closed images: genuine RFC 9639 bitstreams (fLaC marker, STREAMINFO
# with the real sample-MD5, sync-coded frame header with CRC-8,
# CONSTANT / VERBATIM / FIXED-predictor subframes with Rice-coded
# zigzag residuals, whole-frame CRC-16) encoded and decoded by
# operators/flaccodec.py, from scratch per the public spec. Fixture
# signals are CLOSED-FORM per doc (constant, linear-mod, quadratic-mod,
# cubic-mod), so the decode exercises the real unary/remainder bit
# walk and predictor reconstruction while the oracle replays the
# signal formula as a list expression — no recursion needed. Scale
# shape: two Arrow crossings, zero shuffles before the final sort;
# frames decode independently (multi-frame streams split at sync
# boundaries across executors — same argument as TIFF strips).
# ---------------------------------------------------------------------------

def _flac_subframe_decode(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.flaccodec import decode_flac, encode_flac

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def signal(did: int) -> tuple[list[int], str, int, int]:
        t = did % 4
        if t == 0:
            return [(did * 37) % 4001 - 2000] * 64, "constant", 0, 0
        if t == 1:
            return ([(did * 31 + i * 97) % 4001 - 2000
                     for i in range(64)], "verbatim", 0, 0)
        if t == 2:
            return ([(did * 13 + i * i * 5 + i * 29) % 3001 - 1500
                     for i in range(64)], "fixed", 2, 9)
        return ([(did * 7 + i * i * i + i * 53) % 3001 - 1500
                 for i in range(64)], "fixed", 4, 12)

    def enc(it):
        for pdf in it:
            payloads = []
            for did in pdf["doc_id"].astype("int64"):
                s, kind, order, rice = signal(int(did))
                payloads.append(encode_flac(s, kind, order=order,
                                            rice=rice))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    def dec(it):
        for pdf in it:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"),
                              pdf["payload"]):
                r = decode_flac(bytes(p))
                s = r["samples"]
                rows.append({"doc_id": int(did),
                             "subframe_type": r["subframe_type"],
                             "pred_order": r["order"],
                             "n_samples": r["n_samples"],
                             "sample_sum": sum(s),
                             "max_abs": max(abs(v) for v in s),
                             "last_sample": s[-1],
                             "crc_ok": r["crc_ok"],
                             "md5_ok": r["md5_ok"]})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(enc, "doc_id long, payload binary")
               .mapInPandas(dec, "doc_id long, subframe_type string,"
                                 " pred_order long, n_samples long,"
                                 " sample_sum long, max_abs long,"
                                 " last_sample long, crc_ok boolean,"
                                 " md5_ok boolean")
               .transform(_sorted1, "doc_id"))


register(
    "flac_subframe_decode",
    _flac_subframe_decode,
    """
WITH s AS (
  SELECT doc_id, doc_id % 4 AS t,
         list_transform(range(0, 64), i ->
           CASE doc_id % 4
             WHEN 0 THEN (doc_id * 37) % 4001 - 2000
             WHEN 1 THEN (doc_id * 31 + i * 97) % 4001 - 2000
             WHEN 2 THEN (doc_id * 13 + i * i * 5 + i * 29) % 3001 - 1500
             ELSE (doc_id * 7 + i * i * i + i * 53) % 3001 - 1500
           END) AS sv
  FROM documents)
SELECT doc_id,
       CASE t WHEN 0 THEN 'constant' WHEN 1 THEN 'verbatim'
              ELSE 'fixed' END AS subframe_type,
       CAST(CASE t WHEN 2 THEN 2 WHEN 3 THEN 4 ELSE 0 END AS BIGINT)
         AS pred_order,
       CAST(64 AS BIGINT) AS n_samples,
       CAST(list_sum(sv) AS BIGINT) AS sample_sum,
       CAST(list_max(list_transform(sv, x -> abs(x))) AS BIGINT)
         AS max_abs,
       CAST(sv[64] AS BIGINT) AS last_sample,
       TRUE AS crc_ok, TRUE AS md5_ok
FROM s ORDER BY doc_id
""",
    doc="FLAC subset roundtrip (RFC 9639): real Rice-coded fixed-"
        "predictor bitstreams with CRC-8/CRC-16 and STREAMINFO sample-"
        "MD5 all verified in decode; closed-form fixture signals make "
        "the oracle a pure list expression while the bit walk and "
        "predictor reconstruction stay genuine.",
)


# ---------------------------------------------------------------------------
# zstd frame walk + entropy-free decode — Common Crawl ships WET/WARC
# as .zst since 2023, so the ingest seam needs the RFC 8878 frame
# grammar next to gzip members and tar shards. The fixture frames each
# doc's text plus a 128-byte run (so both Raw and RLE block types
# occur) through operators/zstdframe.py's real encoder; the operator
# decodes the frame back — magic, FHD fields, 3-byte block headers,
# RLE expansion, FCS verification — and publishes the reassembled
# content's md5 plus the full structural census. The oracle replays
# the chunking rule arithmetically (a chunk is RLE iff it equals its
# first byte repeated), never touching the binary. Compressed_Block
# is the documented entropy boundary (UnsupportedZstd, libzstd slots
# behind the same seam). Scale: two Arrow crossings, frames decode
# independently, one final sort.
# ---------------------------------------------------------------------------

def _zstd_frame_probe(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib

    import pandas as pd

    from .operators.zstdframe import decode_zstd_frame, encode_zstd_raw

    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def enc(it):
        for pdf in it:
            payloads = [encode_zstd_raw(t.encode("utf-8") + b"z" * 128, 64)
                        for t in pdf["text"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    def dec(it):
        for pdf in it:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"),
                              pdf["payload"]):
                r = decode_zstd_frame(bytes(p))
                rows.append({
                    "doc_id": int(did),
                    "content_len": r["content_len"],
                    "n_blocks": r["n_blocks"],
                    "n_raw": r["n_raw"], "n_rle": r["n_rle"],
                    "frame_bytes": r["frame_bytes"],
                    "fcs_ok": r["content_len"] == r["fcs"],
                    "content_md5":
                        hashlib.md5(r["content"]).hexdigest()})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(enc, "doc_id long, payload binary")
               .mapInPandas(dec, "doc_id long, content_len long,"
                                 " n_blocks long, n_raw long,"
                                 " n_rle long, frame_bytes long,"
                                 " fcs_ok boolean, content_md5 string")
               .transform(_sorted1, "doc_id"))


register(
    "zstd_frame_probe",
    _zstd_frame_probe,
    """
-- Chunking runs over UTF-8 BYTES (matching Spark's text.encode('utf-8')):
-- this DuckDB build has no BLOB substring, so the byte walk uses the hex
-- transcription (2 hex chars per byte; offsets/lengths doubled). md5() on
-- VARCHAR already hashes the UTF-8 encoding, so content_md5 needs no trick.
WITH d AS (SELECT doc_id, text || repeat('z', 128) AS c FROM documents),
dh AS (SELECT doc_id, c, hex(encode(c)) AS hx,
              octet_length(encode(c)) AS n FROM d),
ch AS (SELECT doc_id, c, hx, n,
              unnest(range(0, (n + 63) // 64)) AS j
       FROM dh),
blk AS (SELECT doc_id, n,
               LEAST(64, n - j * 64) AS clen,
               substr(hx, CAST(j * 128 + 1 AS INT), CAST(2 * LEAST(64, n - j * 64) AS INT))
                 = repeat(substr(hx, CAST(j * 128 + 1 AS INT), 2),
                          LEAST(64, n - j * 64)) AS rle
        FROM ch)
SELECT b.doc_id,
       CAST(MAX(b.n) AS BIGINT) AS content_len,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN b.rle THEN 0 ELSE 1 END) AS BIGINT) AS n_raw,
       CAST(SUM(CASE WHEN b.rle THEN 1 ELSE 0 END) AS BIGINT) AS n_rle,
       CAST(9 + SUM(3 + CASE WHEN b.rle THEN 1 ELSE b.clen END)
            AS BIGINT) AS frame_bytes,
       TRUE AS fcs_ok,
       MAX(md5(d.c)) AS content_md5
FROM blk b JOIN d ON d.doc_id = b.doc_id
GROUP BY b.doc_id ORDER BY b.doc_id
""",
    doc="RFC 8878 zstd frame roundtrip: real magic/FHD/block-header "
        "grammar with Raw + RLE blocks decoded and FCS verified; the "
        "oracle replays the chunk census arithmetically and pins the "
        "reassembled content md5. Compressed_Block decode ships too — "
        "zstd_compressed_roundtrip exercises it.",
)


# ---------------------------------------------------------------------------
# zstd COMPRESSED_BLOCK roundtrip — the entropy stack (VERDICT r8 item
# 4): real-world .zst payloads are ~all Compressed_Blocks, so the walk
# above is a probe until FSE + Huffman decode. operators/zstdentropy.py
# implements the full RFC 8878 §4.1-4.2 stack from scratch (NCount
# table descriptions, reversed bitstreams, Huffman literals with direct
# AND FSE-compressed weights over 1 or 4 streams, predefined-table
# sequences, 3-slot repeat-offset history) with hypothesis roundtrips
# in tests/test_zstd_entropy.py. The fixture frames each doc's text as
# ONE compressed block: Huffman-coded literals = utf8(text) + one 'z',
# then a single sequence (LL = literals, offset 1 — a REPEAT-OFFSET
# code, rep0's initial value — match length 199) whose overlapped copy
# regenerates a 200-byte z-run. The oracle pins every content-derived
# field (length, md5, section census) in plain SQL, so a stale bit
# anywhere in the Huffman/FSE/sequence pipeline breaks the md5 match.
# Scale: two Arrow crossings, frames decode independently, one sort.
# Registered BEHIND the driver's 50-slot window by design (r9 drains
# the stamp backlog; this heads the r10 queue).
# ---------------------------------------------------------------------------

def _zstd_compressed_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib

    import pandas as pd

    from .operators.zstdframe import decode_zstd_frame, encode_zstd_compressed

    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def enc(it):
        for pdf in it:
            payloads = []
            for t in pdf["text"]:
                lits = t.encode("utf-8") + b"z"
                payloads.append(encode_zstd_compressed(
                    [(lits, [(len(lits), 1, 199)])]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    def dec(it):
        for pdf in it:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"),
                              pdf["payload"]):
                r = decode_zstd_frame(bytes(p))
                rows.append({
                    "doc_id": int(did),
                    "content_len": r["content_len"],
                    "n_blocks": r["n_blocks"],
                    "n_compressed": r["n_compressed"],
                    "n_seq": r["n_seq"],
                    "lit_len": r["lit_len"],
                    "match_len": r["match_len"],
                    "fcs_ok": r["content_len"] == r["fcs"],
                    "content_md5":
                        hashlib.md5(r["content"]).hexdigest()})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(enc, "doc_id long, payload binary")
               .mapInPandas(dec, "doc_id long, content_len long,"
                                 " n_blocks long, n_compressed long,"
                                 " n_seq long, lit_len long,"
                                 " match_len long, fcs_ok boolean,"
                                 " content_md5 string")
               .transform(_sorted1, "doc_id"))


register(
    "zstd_compressed_roundtrip",
    _zstd_compressed_roundtrip,
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) + 200 AS BIGINT) AS content_len,
       CAST(1 AS BIGINT) AS n_blocks,
       CAST(1 AS BIGINT) AS n_compressed,
       CAST(1 AS BIGINT) AS n_seq,
       CAST(octet_length(encode(text)) + 1 AS BIGINT) AS lit_len,
       CAST(199 AS BIGINT) AS match_len,
       TRUE AS fcs_ok,
       md5(text || repeat('z', 200)) AS content_md5
FROM documents ORDER BY doc_id
""",
    doc="RFC 8878 Compressed_Block roundtrip: Huffman literals (direct "
        "or FSE-compressed weights, 1/4 streams) + predefined-table FSE "
        "sequences with a repeat-offset match, encoded and decoded from "
        "scratch; the oracle pins content length, md5 and the section "
        "census, so the md5 match verifies the whole entropy stack.",
)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# algorithm): the guarantee-bearing document-fingerprint scheme next to
# CDC chunking and full-text minhash — any shared substring of length
# >= w+k-1 is guaranteed to share a selected fingerprint, and expected
# density is 2/(w+1). Per doc: 48-bit md5 hashes of all char k-grams
# (k=8), then each w=4 window selects its minimal hash with the
# RIGHTMOST tie rule — expressed as a struct-min of (h, -pos) over a
# bounded per-doc window frame (both engines order structs
# lexicographically), then DISTINCT selected positions. Scale: the
# window is per-DOCUMENT (partitioned by doc_id, 4-row frame), k-gram
# explode is corpus-linear, one final per-doc agg.
# ---------------------------------------------------------------------------

_WIN_K = 8
_WIN_W = 4


def _winnowing_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators.text import md5_hash

    d = fanout(_t(spark, sf, "documents")
               .select("doc_id", F.trim("text").alias("t"))
               .where(F.length("t") >= _WIN_K + _WIN_W - 1))
    # fanout: the k-gram explode + 1.4M md5()s otherwise run in the
    # single-task local scan stage before the window exchange
    grams = (d.select(
        "doc_id", F.length("t").alias("n"),
        F.explode(F.sequence(F.lit(1),
                             F.length("t") - (_WIN_K - 1))).alias("pos"),
        F.col("t"))
        .select("doc_id", "n", "pos",
                md5_hash(F.expr(f"substring(t, pos, {_WIN_K})"))
                .alias("h")))
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(0, _WIN_W - 1))
    sel = (grams
           .withColumn("nk", F.col("n") - (_WIN_K - 1))
           .withColumn("s", F.min(F.struct(
               F.col("h"), (-F.col("pos")).alias("np"))).over(win))
           .where(F.col("pos") <= F.col("nk") - (_WIN_W - 1))
           .select("doc_id", "nk",
                   (-F.col("s.np")).alias("fpos"),
                   F.col("s.h").alias("fh")))
    fps = sel.select("doc_id", "nk", "fpos", "fh").distinct()
    return (fps.groupBy("doc_id")
            .agg(F.max("nk").cast("long").alias("n_kgrams"),
                 (F.max("nk") - (_WIN_W - 1)).cast("long")
                 .alias("n_windows"),
                 F.count(F.lit(1)).alias("n_fps"),
                 F.min("fh").alias("min_fp"),
                 F.max("fh").alias("max_fp"))
            .withColumn("density_micro",
                        F.expr("(1000000 * n_fps) div n_windows")
                        .cast("long"))
            .select("doc_id", "n_kgrams", "n_windows", "n_fps",
                    "density_micro", "min_fp", "max_fp")
            .transform(_sorted1, "doc_id"))


register(
    "winnowing_fingerprints",
    _winnowing_fingerprints,
    f"""
WITH d AS (SELECT doc_id, trim(text) AS t FROM documents
           WHERE length(trim(text)) >= {_WIN_K + _WIN_W - 1}),
grams AS (
  SELECT doc_id, length(t) - {_WIN_K - 1} AS nk,
         unnest(range(1, length(t) - {_WIN_K - 2})) AS pos, t
  FROM d),
h AS (
  SELECT doc_id, nk, pos,
         ('0x' || substr(md5(substr(t, CAST(pos AS INT), {_WIN_K})),
                         1, 12))::BIGINT AS h
  FROM grams),
sel AS (
  SELECT doc_id, nk,
         MIN({{'h': h, 'np': -pos}}) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS s,
         pos
  FROM h),
fp AS (
  SELECT DISTINCT doc_id, nk, -(s.np) AS fpos, s.h AS fh
  FROM sel WHERE pos <= nk - {_WIN_W - 1})
SELECT doc_id,
       CAST(MAX(nk) AS BIGINT) AS n_kgrams,
       CAST(MAX(nk) - {_WIN_W - 1} AS BIGINT) AS n_windows,
       CAST(COUNT(*) AS BIGINT) AS n_fps,
       CAST((1000000 * COUNT(*)) // (MAX(nk) - {_WIN_W - 1}) AS BIGINT)
         AS density_micro,
       CAST(MIN(fh) AS BIGINT) AS min_fp,
       CAST(MAX(fh) AS BIGINT) AS max_fp
FROM fp GROUP BY doc_id ORDER BY doc_id
""",
    doc="MOSS winnowing (Schleimer et al. 2003): rightmost-min "
        "fingerprint selection over 4-gram-hash windows via struct-min "
        "with a bounded per-doc frame — shared substrings of length "
        ">= w+k-1 share a fingerprint by construction; density pinned "
        "in integer micro units.",
)


# ---------------------------------------------------------------------------
# H.264 slice-HEADER walk — one layer past h264_sps_probe (VERDICT r8
# item 8): after the resolution/profile gate, GOP-structure and
# QP-distribution gates read the slice headers. The encoder now writes
# a COMPLETE baseline PPS (every §7.3.2.2 field) and genuine §7.3.3
# slice headers (slice type, SPS-width frame_num, idr_pic_id, ref-list
# + dec_ref_pic_marking flags, slice_qp_delta, and the deblocking
# block gated on the PPS deblocking flag) — all exp-Golomb-coded and
# emulation-prevention-escaped; the parser walks them back bit-exactly.
# Macroblock/residual decode stays the documented codec-library
# boundary. Every header field is a closed form of (doc_id, slice
# index), so the oracle replays the per-slice lattice with a
# generate_series join. Scale: same shape as the other media probes —
# per-payload work partition-local behind one Arrow crossing.
# Registered BEHIND the driver window (r10 queue, with
# zstd_compressed_roundtrip).
# ---------------------------------------------------------------------------

def _h264_slice_header_walk(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.multimodal import (encode_h264_annexb,
                                       parse_h264_slice_headers)

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)
    dims = [(1920, 1080), (1280, 720), (640, 360), (354, 288),
            (1918, 1078)]

    def run(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                w, h = dims[did % 5]
                s = encode_h264_annexb(w, h, n_idr=1 + did % 3,
                                       n_nonidr=2 + did % 4,
                                       profile=66 + (did % 2) * 11,
                                       level=30 + (did % 3) * 10)
                hs = parse_h264_slice_headers(s)
                rows.append({
                    "doc_id": did,
                    "n_slices": len(hs),
                    "i_slices": sum(1 for r in hs if r["nal_type"] == 5),
                    "p_slices": sum(1 for r in hs if r["nal_type"] == 1),
                    "frame_num_sum": sum(r["frame_num"] for r in hs),
                    "idr_id_sum": sum(r["idr_pic_id"] or 0 for r in hs),
                    "qp_sum": sum(r["slice_qp"] for r in hs),
                    "deblock_off_slices":
                        sum(1 for r in hs if r["deblock_idc"] == 1),
                    "alpha_sum": sum(r["alpha_offset"] for r in hs),
                    "beta_sum": sum(r["beta_offset"] for r in hs)})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(run, "doc_id long, n_slices long,"
                                 " i_slices long, p_slices long,"
                                 " frame_num_sum long, idr_id_sum long,"
                                 " qp_sum long, deblock_off_slices long,"
                                 " alpha_sum long, beta_sum long")
               .transform(_sorted1, "doc_id"))


register(
    "h264_slice_header_walk",
    _h264_slice_header_walk,
    """
WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_idr, 2 + doc_id % 4 AS n_non
           FROM documents),
s AS (
  SELECT doc_id, TRUE AS idr, i.g AS idx
  FROM d JOIN generate_series(0, 2) i(g) ON i.g < d.n_idr
  UNION ALL
  SELECT doc_id, FALSE, i.g
  FROM d JOIN generate_series(0, 5) i(g) ON i.g < d.n_non)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_slices,
       CAST(SUM(CASE WHEN idr THEN 1 ELSE 0 END) AS BIGINT) AS i_slices,
       CAST(SUM(CASE WHEN idr THEN 0 ELSE 1 END) AS BIGINT) AS p_slices,
       CAST(SUM(CASE WHEN idr THEN 0 ELSE idx + 1 END) AS BIGINT)
         AS frame_num_sum,
       CAST(SUM(CASE WHEN idr THEN idx ELSE 0 END) AS BIGINT)
         AS idr_id_sum,
       CAST(SUM(26 + idx % 5 - 2) AS BIGINT) AS qp_sum,
       CAST(SUM(CASE WHEN idx % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS deblock_off_slices,
       CAST(SUM(CASE WHEN idx % 2 = 1 THEN 0 ELSE 4 END) AS BIGINT)
         AS alpha_sum,
       CAST(SUM(CASE WHEN idx % 2 = 1 THEN 0 ELSE -2 END) AS BIGINT)
         AS beta_sum
FROM s GROUP BY doc_id ORDER BY doc_id
""",
    doc="H.264 slice-header walk one layer past the SPS probe: genuine "
        "baseline PPS + exp-Golomb slice headers (type, frame_num, "
        "idr_pic_id, QP delta, deblocking block) encoded, escaped, and "
        "parsed back bit-exactly; per-doc GOP/QP aggregates pinned by "
        "a generate_series lattice oracle.",
)


# ---------------------------------------------------------------------------
# WARC-over-zstd extraction — the two r9 seams composed end-to-end in
# the shape Common Crawl actually ships (WET/WARC members carried in
# zstd since 2023): each document's two-record WARC stream is framed
# as REAL Compressed_Blocks (Huffman literals, FSE-weight trees,
# treeless reuse across the two blocks, XXH64 content checksum —
# decode_zstd_frame raises on any checksum/FCS mismatch), then the
# Content-Length-framed WARC walker reads the records back out of the
# decoded bytes. The response-body md5 pins the WHOLE chain: a stale
# bit anywhere in FSE/Huffman/sequence/checksum/WARC framing breaks
# the hash. Scale shape: identical to warc_record_extract — one Arrow
# crossing, per-payload work partition-local, one final sort.
# Registered BEHIND the driver window (r10 queue).
# ---------------------------------------------------------------------------

def _warc_zst_extract(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib

    import pandas as pd

    from .operators.webdataset import build_warc, parse_warc_records
    from .operators.zstdframe import (decode_zstd_frame,
                                      encode_zstd_compressed)

    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def roundtrip(it):
        for pdf in it:
            rows = []
            for did, text in zip(pdf["doc_id"].astype("int64"),
                                 pdf["text"]):
                did = int(did)
                body = str(text).encode("utf-8")
                w = build_warc([
                    ("warcinfo", f"<urn:uuid:{did}-info>",
                     b"software: engine-test"),
                    ("response", f"<urn:uuid:{did}-resp>", body)])
                half = len(w) // 2
                frame = encode_zstd_compressed(
                    [(w[:half], []), (w[half:], [])],
                    checksum=True, lit_mode="treeless")
                z = decode_zstd_frame(frame)
                recs = parse_warc_records(z["content"])
                resp = [r for r in recs if r["type"] == "response"][0]
                rows.append({
                    "doc_id": did,
                    "n_records": len(recs),
                    "n_zstd_blocks": z["n_blocks"],
                    "fcs_ok": z["content_len"] == z["fcs"],
                    "response_len": resp["content_length"],
                    "response_md5": hashlib.md5(
                        resp["payload"]).hexdigest(),
                })
            yield pd.DataFrame(rows)

    return (src.mapInPandas(roundtrip,
                            "doc_id long, n_records long,"
                            " n_zstd_blocks long, fcs_ok boolean,"
                            " response_len long, response_md5 string")
               .transform(_sorted1, "doc_id"))


register(
    "warc_zst_extract",
    _warc_zst_extract,
    """
SELECT doc_id,
       CAST(2 AS BIGINT) AS n_records,
       CAST(2 AS BIGINT) AS n_zstd_blocks,
       TRUE AS fcs_ok,
       CAST(octet_length(encode(text)) AS BIGINT) AS response_len,
       md5(text) AS response_md5
FROM documents ORDER BY doc_id
""",
    doc="Common Crawl's .zst carriage composed end-to-end: WARC "
        "two-record streams framed as real zstd Compressed_Blocks "
        "(Huffman literals, treeless table reuse, XXH64 checksum "
        "verified in decode) and walked back by the Content-Length-"
        "framed WARC parser; the response md5 pins the whole chain.",
)


# ---------------------------------------------------------------------------
# AV1 OBU walk — the open-codec sibling of h264_sps_probe, one probe
# per modern-codec family (VERDICT r8 item 8's other half): genuine
# low-overhead OBU streams (temporal delimiter + §5.5.1 sequence
# header + frame OBUs with leb128 sizes) are built and walked back —
# header bits, leb128, full sequence-header parse through color_config
# for 8-bit profiles 0/1/2 (4:2:0 / 4:4:4 / 4:2:2 subsampling falls
# out of the profile, exactly the spec rule). Resolution, profile,
# level, chroma mode, OBU census and frame-payload mass are all
# closed forms of doc_id, so the oracle replays them with a
# generate_series lattice. Tile decode stays the codec boundary.
# Registered BEHIND the driver window (r10 queue).
# ---------------------------------------------------------------------------

def _av1_obu_probe(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.multimodal import (encode_av1_obu_stream,
                                       parse_av1_obu_stream)

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)
    dims = [(1920, 1080), (1280, 720), (640, 360), (354, 288),
            (1918, 1078)]

    def run(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                w, h = dims[did % 5]
                sizes = [20 + ((did + 11 * i) % 50)
                         for i in range(1 + did % 4)]
                s = encode_av1_obu_stream(did % 3, 8 + did % 5, w, h,
                                          sizes)
                r = parse_av1_obu_stream(s)
                rows.append({
                    "doc_id": did,
                    "profile": r["profile"],
                    "level": r["level"],
                    "max_width": r["max_width"],
                    "max_height": r["max_height"],
                    "sub_x": r["subsampling_x"],
                    "sub_y": r["subsampling_y"],
                    "n_obus": r["n_obus"],
                    "n_frames": r["obu_census"].get(6, 0),
                    "frame_bytes": r["frame_bytes"]})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(run, "doc_id long, profile long, level long,"
                                 " max_width long, max_height long,"
                                 " sub_x long, sub_y long, n_obus long,"
                                 " n_frames long, frame_bytes long")
               .transform(_sorted1, "doc_id"))


register(
    "av1_obu_probe",
    _av1_obu_probe,
    """
WITH d AS (
  SELECT doc_id, doc_id % 3 AS p, 1 + doc_id % 4 AS nf,
         CASE doc_id % 5 WHEN 0 THEN 1920 WHEN 1 THEN 1280
              WHEN 2 THEN 640 WHEN 3 THEN 354 ELSE 1918 END AS w,
         CASE doc_id % 5 WHEN 0 THEN 1080 WHEN 1 THEN 720
              WHEN 2 THEN 360 WHEN 3 THEN 288 ELSE 1078 END AS h
  FROM documents),
f AS (SELECT doc_id, 20 + ((doc_id + 11 * i.g) % 50) AS fb
      FROM d JOIN generate_series(0, 3) i(g) ON i.g < d.nf)
SELECT d.doc_id,
       CAST(d.p AS BIGINT) AS profile,
       CAST(8 + d.doc_id % 5 AS BIGINT) AS level,
       CAST(d.w AS BIGINT) AS max_width,
       CAST(d.h AS BIGINT) AS max_height,
       CAST(CASE WHEN d.p = 1 THEN 0 ELSE 1 END AS BIGINT) AS sub_x,
       CAST(CASE WHEN d.p = 0 THEN 1 ELSE 0 END AS BIGINT) AS sub_y,
       CAST(2 + d.nf AS BIGINT) AS n_obus,
       CAST(d.nf AS BIGINT) AS n_frames,
       CAST((SELECT SUM(fb) FROM f WHERE f.doc_id = d.doc_id)
            AS BIGINT) AS frame_bytes
FROM d ORDER BY d.doc_id
""",
    doc="AV1 low-overhead OBU walk: leb128-framed OBU census + full "
        "8-bit sequence-header parse (profile, level, true max frame "
        "size, profile-derived chroma subsampling) over genuine "
        "spec-built streams; every field lattice-pinned in SQL.",
)


# ---------------------------------------------------------------------------
# zstd DICTIONARY roundtrip (round 10, VERDICT r9 item 5): RFC 8878 §5
# dictionaries — Common Crawl-adjacent corpora compress small records
# against a shared dictionary, so the ingest seam must decode
# Dictionary_ID frames. operators/zstdframe.py now parses structured
# dictionaries (Huffman + OF/ML/LL FSE tables + repeat offsets +
# window-seeding content, interop-tested against zstd v1.5.7 incl.
# --train'ed dictionaries) and encodes frames that open with Treeless
# literals + Repeat_Mode sequences and copy matches OUT of the
# dictionary content. The fixture: one corpus-wide dictionary whose
# content ends in 64 'q's; each doc's frame carries utf8(text) as
# treeless literals plus one sequence copying those 64 dictionary
# bytes (offset = lit_len + 64 reaches past the frame into the dict).
# The oracle pins every content-derived field incl. the md5, and the
# dict_gated column pins the refusal path (decode WITHOUT the
# dictionary must raise, never misdecode). Scale: the dictionary blob
# is built per Arrow batch from constants (no broadcast needed);
# frames decode independently; one sort.
# Registered BEHIND the driver's 50-slot window (r10 queue discipline:
# new queries never displace committed stamp slots).
# ---------------------------------------------------------------------------

_ZDICT_MARK = b"shared-prefix:the quick brown fox jumps over the lazy dog;"
_ZDICT_TAIL = 64


def _zstd_dict_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib

    import pandas as pd

    from .operators.zstdframe import (UnsupportedZstd, decode_zstd_frame,
                                      encode_zstd_compressed,
                                      encode_zstd_dictionary,
                                      parse_zstd_dictionary)

    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def enc(it):
        blob = encode_zstd_dictionary(_ZDICT_MARK + b"q" * _ZDICT_TAIL,
                                      dict_id=101)
        parsed = parse_zstd_dictionary(blob)
        for pdf in it:
            payloads = []
            for t in pdf["text"]:
                lits = t.encode("utf-8")
                seqs = [(len(lits), len(lits) + _ZDICT_TAIL, _ZDICT_TAIL)]
                payloads.append(encode_zstd_compressed(
                    [(lits, seqs)], seq_mode="repeat",
                    lit_mode="treeless", dictionary=parsed,
                    checksum=True))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    def dec(it):
        blob = encode_zstd_dictionary(_ZDICT_MARK + b"q" * _ZDICT_TAIL,
                                      dict_id=101)
        parsed = parse_zstd_dictionary(blob)
        for pdf in it:
            rows = []
            for did, p in zip(pdf["doc_id"].astype("int64"),
                              pdf["payload"]):
                p = bytes(p)
                try:
                    decode_zstd_frame(p)
                    gated = False              # must never happen
                except UnsupportedZstd:
                    gated = True
                r = decode_zstd_frame(p, dictionary=parsed)
                rows.append({
                    "doc_id": int(did),
                    "content_len": r["content_len"],
                    "n_seq": r["n_seq"],
                    "lit_len": r["lit_len"],
                    "match_len": r["match_len"],
                    "fcs_ok": r["content_len"] == r["fcs"],
                    "dict_gated": gated,
                    "content_md5":
                        hashlib.md5(r["content"]).hexdigest()})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(enc, "doc_id long, payload binary")
               .mapInPandas(dec, "doc_id long, content_len long,"
                                 " n_seq long, lit_len long,"
                                 " match_len long, fcs_ok boolean,"
                                 " dict_gated boolean, content_md5 string")
               .transform(_sorted1, "doc_id"))


register(
    "zstd_dict_roundtrip",
    _zstd_dict_roundtrip,
    f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) + {_ZDICT_TAIL} AS BIGINT)
         AS content_len,
       CAST(1 AS BIGINT) AS n_seq,
       CAST(octet_length(encode(text)) AS BIGINT) AS lit_len,
       CAST({_ZDICT_TAIL} AS BIGINT) AS match_len,
       TRUE AS fcs_ok,
       TRUE AS dict_gated,
       md5(text || repeat('q', {_ZDICT_TAIL})) AS content_md5
FROM documents ORDER BY doc_id
""",
    doc="RFC 8878 §5 dictionary frames: structured dictionary (Huffman "
        "+ OF/ML/LL FSE tables + repeat offsets + content) seeds "
        "Treeless literals, Repeat_Mode sequences and cross-boundary "
        "matches INTO the dictionary; the oracle pins content md5 and "
        "the census, and dict_gated pins the refuse-without-dictionary "
        "path. Interop-tested against the real zstd binary.",
)


# ---------------------------------------------------------------------------
# H.264 I_PCM slice-data roundtrip (round 10): one layer past r9's
# slice-header walk. I_PCM macroblocks (§7.3.5 mb_type 25) carry raw
# byte-aligned 4:2:0 samples — the lossless H.264 subset a from-spec
# implementation can decode bit-honestly without an ffmpeg-class
# library, so slice DATA for these streams is now real decode, not a
# stub. The fixture synthesizes per-doc planes from closed-form
# per-pixel arithmetic, encodes a genuine Annex-B stream (SPS + PPS +
# one all-I_PCM IDR slice, emulation prevention applied), decodes it
# back, and publishes geometry + exact plane sums + the lossless bit;
# the oracle recomputes every sum from the same closed forms over
# generate_series. Transform-coded macroblocks remain the documented
# codec-library boundary (named ValueError, pinned in tests).
# Scale: per-payload work partition-local, two Arrow crossings, one
# sort. Registered BEHIND the driver's window (r11 queue).
# ---------------------------------------------------------------------------

def _h264_ipcm_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from .operators.multimodal import decode_h264_ipcm, encode_h264_ipcm

    d = _t(spark, sf, "documents").select("doc_id")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def work(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"].astype("int64"):
                did = int(did)
                w = 16 * (1 + did % 4)
                h = 16 * (1 + did % 3)
                luma = bytes((3 * x + 5 * y + did) % 256
                             for y in range(h) for x in range(w))
                cb = bytes((7 * x + 11 * y + 2 * did) % 256
                           for y in range(h // 2) for x in range(w // 2))
                cr = bytes((13 * x + 17 * y + 3 * did) % 256
                           for y in range(h // 2) for x in range(w // 2))
                dec = decode_h264_ipcm(encode_h264_ipcm(luma, cb, cr, w, h))
                rows.append({
                    "doc_id": did,
                    "width": dec["width"], "height": dec["height"],
                    "n_mbs": dec["n_macroblocks"],
                    "lossless": (dec["luma"], dec["cb"], dec["cr"])
                                == (luma, cb, cr),
                    "luma_sum": sum(dec["luma"]),
                    "cb_sum": sum(dec["cb"]),
                    "cr_sum": sum(dec["cr"])})
            yield pd.DataFrame(rows)

    return (src.mapInPandas(work, "doc_id long, width long, height long,"
                                  " n_mbs long, lossless boolean,"
                                  " luma_sum long, cb_sum long,"
                                  " cr_sum long")
               .transform(_sorted1, "doc_id"))


register(
    "h264_ipcm_roundtrip",
    _h264_ipcm_roundtrip,
    """
WITH d AS (SELECT doc_id, 16 * (1 + doc_id % 4) AS w,
                  16 * (1 + doc_id % 3) AS h
           FROM documents),
ls AS (SELECT d.doc_id,
              SUM((3 * (c.i % d.w) + 5 * (c.i // d.w) + d.doc_id) % 256)
                AS s
       FROM d JOIN LATERAL (SELECT unnest(range(d.w * d.h)) AS i) c ON TRUE
       GROUP BY d.doc_id),
cbs AS (SELECT d.doc_id,
               SUM((7 * (c.i % (d.w // 2)) + 11 * (c.i // (d.w // 2))
                    + 2 * d.doc_id) % 256) AS s
        FROM d JOIN LATERAL
             (SELECT unnest(range((d.w // 2) * (d.h // 2))) AS i) c ON TRUE
        GROUP BY d.doc_id),
crs AS (SELECT d.doc_id,
               SUM((13 * (c.i % (d.w // 2)) + 17 * (c.i // (d.w // 2))
                    + 3 * d.doc_id) % 256) AS s
        FROM d JOIN LATERAL
             (SELECT unnest(range((d.w // 2) * (d.h // 2))) AS i) c ON TRUE
        GROUP BY d.doc_id)
SELECT d.doc_id,
       CAST(d.w AS BIGINT) AS width,
       CAST(d.h AS BIGINT) AS height,
       CAST((d.w // 16) * (d.h // 16) AS BIGINT) AS n_mbs,
       TRUE AS lossless,
       CAST(ls.s AS BIGINT) AS luma_sum,
       CAST(cbs.s AS BIGINT) AS cb_sum,
       CAST(crs.s AS BIGINT) AS cr_sum
FROM d JOIN ls USING (doc_id) JOIN cbs USING (doc_id)
       JOIN crs USING (doc_id)
ORDER BY d.doc_id
""",
    doc="H.264 I_PCM slice-data decode: genuine Annex-B SPS/PPS/IDR "
        "streams whose macroblocks are raw byte-aligned 4:2:0 samples, "
        "encoded and decoded losslessly from the spec; the oracle "
        "recomputes plane sums from the closed-form pixel synthesis, "
        "and the lossless bit pins byte equality.",
)


# ---------------------------------------------------------------------------
# WARC data-source roundtrip (round 10): the Python Data Source formats
# (sources/spark_datasource.py) driven end-to-end as a DRIVER-CHECKABLE
# query, not just pytest — documents are re-sharded through
# df.write.format("warc") (one zstd-compressed member per partition,
# executor-side encode, _SUCCESS manifest) and read back through
# spark.read.format("warc") (per-member partition, zstd decode,
# Content-Length-framed parse). The oracle recomputes every published
# value from the parquet originals, so a byte lost anywhere in the
# write→compress→decompress→parse chain breaks the md5. Same tempdir
# discipline as orc_roundtrip. Scale: one shuffle to shard, then
# partition-local codec work both directions.
# Registered BEHIND the driver's window (r10 registration-pause
# discipline); heads the r11 queue with the other r10 additions.
# ---------------------------------------------------------------------------

def _warc_datasource_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    from .sources.spark_datasource import register_data_sources

    register_data_sources(spark)
    out = _scratch_dir("warc_ds_roundtrip_", sf)
    d = _t(spark, sf, "documents").select("doc_id", "text")
    (d.repartition(8)
      .select(F.lit("response").alias("warc_type"),
              F.format_string("<urn:doc:%d>", F.col("doc_id"))
               .alias("record_id"),
              F.encode(F.col("text"), "utf-8").alias("payload"))
      .write.format("warc").option("compression", "zstd")
      .mode("append").save(out))
    back = spark.read.format("warc").load(out + "/part-*")
    return (back.select(
        F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
         .cast("long").alias("doc_id"),
        F.col("warc_type"),
        F.col("content_length"),
        F.md5(F.col("payload")).alias("payload_md5"))
        .transform(_sorted1, "doc_id"))


register(
    "warc_datasource_roundtrip",
    _warc_datasource_roundtrip,
    """
SELECT doc_id,
       'response' AS warc_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
       md5(text) AS payload_md5
FROM documents ORDER BY doc_id
""",
    doc="Python Data Source formats end-to-end: documents re-sharded "
        "through df.write.format('warc') (zstd members, executor-side) "
        "and read back via spark.read.format('warc'); content lengths "
        "and payload md5s pinned against the parquet originals.",
)


# ---------------------------------------------------------------------------
# bz2_multistream_extract (round 11): the Wikipedia-dump carriage —
# each document becomes its OWN bzip2 stream (stdlib ``bz2.compress``),
# streams concatenate back-to-back per group exactly like enwiki
# multistream shards, and the composed blob is walked back by the
# multistream census (operators/bzip2.py: one ``BZ2Decompressor`` per
# stream, blocks counted by their 48-bit magic). Every published value
# (per-group stream/block census, concatenated-content md5 and byte
# length) is recomputed by the oracle from the parquet originals, so a
# stream lost or split anywhere breaks the hash. The texts are
# record-sized so each doc is exactly one block (far under the 900k
# level-9 block) — making n_blocks oracle-predictable.
# Scale: applyInPandas per group; codec work partition-local.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _bz2_multistream_extract(spark: SparkSession, sf: str) -> DataFrame:
    import bz2
    import hashlib

    import pandas as pd

    from .operators.bzip2 import decode_bzip2

    d = (_t(spark, sf, "documents")
         .select((F.col("doc_id") % 16).alias("gid"), "doc_id", "text"))

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        blob = b"".join(bz2.compress((t + "\n").encode("utf-8"))
                        for t in pdf["text"])
        r = decode_bzip2(blob)
        return pd.DataFrame([{
            "gid": int(pdf["gid"].iloc[0]),
            "n_streams": r["n_streams"],
            "n_blocks": r["n_blocks"],
            "content_len": len(r["content"]),
            "content_md5": hashlib.md5(r["content"]).hexdigest(),
        }])

    return (_spread(d, "gid", 16).groupBy("gid")
             .applyInPandas(per_group,
                            "gid long, n_streams long, n_blocks long,"
                            " content_len long, content_md5 string")
             .transform(_sorted1, "gid"))


register(
    "bz2_multistream_extract",
    _bz2_multistream_extract,
    """
SELECT doc_id % 16 AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_streams,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(octet_length(encode(text || chr(10)))) AS BIGINT)
         AS content_len,
       md5(string_agg(text || chr(10), '' ORDER BY doc_id))
         AS content_md5
FROM documents GROUP BY 1 ORDER BY gid
""",
    doc="Wikipedia-style bzip2 multistream carriage: one stdlib bz2 "
        "stream per document, concatenated per group, walked back by "
        "the multistream census; stream/block counts + content md5 "
        "pinned against the parquet originals.",
)


# ---------------------------------------------------------------------------
# xz_dump_extract (round 11): the xz-utils dump carriage — per
# document the stdlib lzma encoder produces a real .xz stream (check
# type alternating CRC32/CRC64/SHA-256 by doc id, so all three
# verifiers run in the driver-checked path) and the census in
# operators/xzlzma.py decodes it back with liblzma, then reads the
# check name from the stream flags and the block count from the index.
# The oracle recomputes every published value from the parquet
# originals. Scale: mapInPandas, codec work partition-local.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _xz_dump_extract(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import lzma

    import pandas as pd

    from .operators.xzlzma import decode_xz

    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)
    checks = [lzma.CHECK_CRC32, lzma.CHECK_CRC64, lzma.CHECK_SHA256]

    def roundtrip(it):
        for pdf in it:
            rows = []
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                raw = t.encode("utf-8")
                blob = lzma.compress(raw, format=lzma.FORMAT_XZ,
                                     check=checks[int(did) % 3])
                r = decode_xz(blob)
                rows.append({
                    "doc_id": int(did),
                    "check_name": r["checks"][0],
                    "n_blocks": r["n_blocks"],
                    "content_len": len(r["content"]),
                    "content_md5":
                        hashlib.md5(r["content"]).hexdigest(),
                })
            yield pd.DataFrame(rows)

    return _sorted1(
        src.mapInPandas(
            roundtrip, "doc_id long, check_name string,"
                       " n_blocks long, content_len long,"
                       " content_md5 string"),
        "doc_id")


register(
    "xz_dump_extract",
    _xz_dump_extract,
    """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'crc32' WHEN 1 THEN 'crc64'
            ELSE 'sha256' END AS check_name,
       CAST(1 AS BIGINT) AS n_blocks,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_len,
       md5(text) AS content_md5
FROM documents ORDER BY doc_id
""",
    doc="xz/LZMA2 dump carriage: stdlib-encoded .xz streams (all three "
        "check types) decoded by liblzma; check name, index block count "
        "and content md5 pinned per document.",
)


# ---------------------------------------------------------------------------
# wikipedia_dump_pipeline (round 11): the canonical public-corpus
# ingestion chain end-to-end — documents rendered as MediaWiki export
# XML pages, carried as a bzip2 MULTISTREAM shard per group (one
# stdlib bz2 stream per page, the enwiki layout), decoded back by
# the multistream census, and then parsed JVM-SIDE: page
# splitting and title/id/text extraction are codegen regexp_extract
# over the decoded XML (the Spark-first half — only the codec crosses
# into Python), XML entities unescaped in the pinned reverse order.
# Every published value (ids, titles, revision ids, text md5) is
# recomputed by the oracle from the parquet originals, so a byte lost
# in escape→stream→decode→parse→unescape breaks the hash.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _wikipedia_dump_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    import bz2

    import pandas as pd

    from .operators.bzip2 import decode_bzip2

    # 32 shards (was 8): the shard id never reaches the published rows
    # (pages are re-extracted from the XML), so the width is a pure
    # parallelism knob for the per-shard bzip2 codec work — one task
    # per local core.
    d = (_t(spark, sf, "documents")
         .select((F.col("doc_id") % 32).alias("gid"), "doc_id", "text"))

    def esc(t: str) -> str:
        return (t.replace("&", "&amp;").replace("<", "&lt;")
                 .replace(">", "&gt;"))

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        streams = []
        for did, t in zip(pdf["doc_id"], pdf["text"]):
            page = (f"<page><title>Doc {did}</title><id>{did}</id>"
                    f"<revision><id>{did * 7}</id>"
                    f"<text>{esc(t)}</text></revision></page>")
            streams.append(bz2.compress(page.encode("utf-8")))
        xml = decode_bzip2(b"".join(streams))["content"].decode("utf-8")
        return pd.DataFrame([{"gid": int(pdf["gid"].iloc[0]),
                              "xml": "<mediawiki>" + xml + "</mediawiki>"}])

    shards = _spread(d, "gid", 32).groupBy("gid") \
        .applyInPandas(per_group, "gid long, xml string")
    pages = shards.select(
        F.explode(F.expr(
            r"regexp_extract_all(xml, '(?s)<page>(.*?)</page>', 1)"))
         .alias("page"))
    unescape = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_extract("page", r"(?s)<text>(.*?)</text>", 1),
                "&lt;", "<"),
            "&gt;", ">"),
        "&amp;", "&")
    return (pages.select(
                F.regexp_extract("page", r"<id>(\d+)</id>", 1)
                 .cast("long").alias("doc_id"),
                F.regexp_extract("page", r"<title>(.*?)</title>", 1)
                 .alias("title"),
                F.regexp_extract("page",
                                 r"<revision><id>(\d+)</id>", 1)
                 .cast("long").alias("rev_id"),
                F.md5(F.encode(unescape, "utf-8")).alias("text_md5"))
            .transform(_sorted1, "doc_id"))


register(
    "wikipedia_dump_pipeline",
    _wikipedia_dump_pipeline,
    """
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       doc_id * 7 AS rev_id,
       md5(text) AS text_md5
FROM documents ORDER BY doc_id
""",
    doc="Wikipedia-dump ingestion chain: MediaWiki XML pages through "
        "a stdlib bzip2 multistream shard, parsed back with "
        "JVM-side codegen regex extraction and pinned-order entity "
        "unescaping; ids, titles and text md5s oracle-exact per page.",
)


# ---------------------------------------------------------------------------
# deflate_dynamic_roundtrip (round 11): per document a stdlib gzip
# member (dynamic-Huffman deflate) is written and read back, and the
# executor asserts the content survived (a False anywhere breaks the
# value hash). Both directions are stdlib zlib, so ``stdlib_agrees``
# and ``self_ok`` carry the same check; both stay because they are
# part of the published columns. Scale: mapInPandas, partition-local
# codec work.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _deflate_dynamic_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import gzip as _gz
    import hashlib

    import pandas as pd

    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def roundtrip(it):
        for pdf in it:
            rows = []
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                raw = t.encode("utf-8")
                back = _gz.decompress(_gz.compress(raw, mtime=0))
                rows.append({
                    "doc_id": int(did),
                    "content_len": len(back),
                    "content_md5": hashlib.md5(back).hexdigest(),
                    "stdlib_agrees": back == raw,
                    "self_ok": back == raw,
                })
            yield pd.DataFrame(rows)

    return (src.mapInPandas(
                roundtrip, "doc_id long, content_len long,"
                           " content_md5 string, stdlib_agrees boolean,"
                           " self_ok boolean")
               .transform(_sorted1, "doc_id"))


register(
    "deflate_dynamic_roundtrip",
    _deflate_dynamic_roundtrip,
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_len,
       md5(text) AS content_md5,
       TRUE AS stdlib_agrees,
       TRUE AS self_ok
FROM documents ORDER BY doc_id
""",
    doc="gzip (dynamic-Huffman DEFLATE) member roundtrip driver-"
        "checked per document, with the per-row roundtrip check "
        "asserted inside the value hash.",
)


# ---------------------------------------------------------------------------
# lake_time_travel (round 11): table-format log replay — a
# deterministic add/remove commit log (Delta/Iceberg shape: version v
# adds four files, and two versions later a third of them are
# compacted away) replayed to EVERY historical snapshot in one query:
# snapshot(v) = adds with v_add <= v, anti-joined against removes
# with v_rem <= v. File-manifest-sized inputs (the established lake-op
# class); versions broadcast over the add set. Completes the lake
# surface next to schema-evolution, compaction, manifest-prune and
# SCD2: the time-travel read path.
# ---------------------------------------------------------------------------

def _lake_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    n_versions = 10
    adds = (spark.range(n_versions * 4)
            .select(F.col("id").alias("file_id"),
                    (F.col("id") / 4).cast("long").alias("v_add"),
                    (F.lit(100) + (F.col("id") % 7) * 10).alias("n_rows")))
    removes = (adds.where((F.col("file_id") % 3 == 0)
                          & (F.col("v_add") <= n_versions - 3))
               .select("file_id", (F.col("v_add") + 2).alias("v_rem")))
    versions = spark.range(n_versions).select(F.col("id").alias("version"))
    live = (adds.join(removes, "file_id", "left")
                .crossJoin(F.broadcast(versions))
                .where((F.col("v_add") <= F.col("version"))
                       & (F.col("v_rem").isNull()
                          | (F.col("v_rem") > F.col("version")))))
    return (live.groupBy("version")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("n_rows").alias("total_rows"),
                 F.min("file_id").alias("oldest_file"),
                 F.max("file_id").alias("newest_file"))
            .transform(_sorted1, "version"))


register(
    "lake_time_travel",
    _lake_time_travel,
    """
WITH adds AS (
  SELECT f AS file_id, CAST(FLOOR(f / 4) AS BIGINT) AS v_add,
         CAST(100 + (f % 7) * 10 AS BIGINT) AS n_rows
  FROM (SELECT unnest(range(0, 40)) AS f)),
removes AS (
  SELECT file_id, v_add + 2 AS v_rem FROM adds
  WHERE file_id % 3 = 0 AND v_add <= 7),
versions AS (SELECT unnest(range(0, 10)) AS version),
live AS (
  SELECT a.file_id, a.n_rows, v.version
  FROM adds a LEFT JOIN removes r USING (file_id), versions v
  WHERE a.v_add <= v.version
    AND (r.v_rem IS NULL OR r.v_rem > v.version))
SELECT CAST(version AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_rows) AS BIGINT) AS total_rows,
       MIN(file_id) AS oldest_file, MAX(file_id) AS newest_file
FROM live GROUP BY version ORDER BY version
""",
    doc="Table-format time travel: add/remove commit log replayed to "
        "every historical snapshot via one anti-style join; "
        "manifest-sized inputs, versions broadcast.",
)


# ---------------------------------------------------------------------------
# event_pattern_match (round 11): MATCH_RECOGNIZE-flavored sequence
# pattern mining — each user's event history collapses to a type
# string (one char per event, (ts, event_id)-ordered inside an
# array_sort, so the sequence is deterministic without a second
# window), and funnel patterns are counted with CODEGEN regex over
# that string: non-overlapping 'vc*p' (view→clicks→purchase runs),
# 'ee' error bursts, and the position of the first purchase. One
# shuffle (the per-user collect); everything after is JVM string
# work on |users| rows.
# ---------------------------------------------------------------------------

def _event_pattern_match(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    ch = (F.when(F.col("event_type") == "view", F.lit("v"))
           .when(F.col("event_type") == "click", F.lit("c"))
           .when(F.col("event_type") == "purchase", F.lit("p"))
           .when(F.col("event_type") == "error", F.lit("e"))
           .otherwise(F.lit("o")))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = (e.select("user_id", F.struct(us.alias("us"),
                                             F.col("event_id").alias("eid"),
                                             ch.alias("ch")).alias("s"))
                 .groupBy("user_id")
                 .agg(F.array_join(
                      F.transform(F.sort_array(F.collect_list("s")),
                                  lambda x: x["ch"]), "").alias("seq")))
    return (per_user.select(
                "user_id",
                F.length("seq").alias("seq_len"),
                F.size(F.expr("regexp_extract_all(seq, 'vc*p', 0)"))
                 .alias("n_funnel_runs"),
                F.size(F.expr("regexp_extract_all(seq, 'ee', 0)"))
                 .alias("n_error_bursts"),
                F.instr(F.col("seq"), "p").alias("first_purchase_pos"))
            .transform(_sorted1, "user_id"))


register(
    "event_pattern_match",
    _event_pattern_match,
    """
WITH s AS (
  SELECT user_id,
         string_agg(CASE event_type WHEN 'view' THEN 'v'
                    WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                    WHEN 'error' THEN 'e' ELSE 'o' END, ''
                    ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS seq
  FROM events GROUP BY user_id)
SELECT user_id,
       CAST(length(seq) AS INT) AS seq_len,
       CAST(len(regexp_extract_all(seq, 'vc*p')) AS INT)
         AS n_funnel_runs,
       CAST(len(regexp_extract_all(seq, 'ee')) AS INT)
         AS n_error_bursts,
       CAST(strpos(seq, 'p') AS INT) AS first_purchase_pos
FROM s ORDER BY user_id
""",
    doc="Sequence pattern mining over per-user event-type strings: "
        "deterministic array_sort collapse, codegen regex counts for "
        "funnel runs and error bursts; one shuffle total.",
)


# ---------------------------------------------------------------------------
# lz4_frame_roundtrip (round 11): the LZ4 frame codec
# (operators/lz4codec.py — LZ4 frame spec v1.6.3) on the driver-checked
# path: per document OUR frame writer (liblz4 blocks from pyarrow, our
# xxHash32 header/block/content checksums, block checksums on) then
# liblz4's frame decoder, every checksum verified on the way back.
# self_ok now checks liblz4's blocks against liblz4's decoder, so it is
# close to a tautology; the independent-implementation pins (lz4-java
# frames both directions, net.jpountz xxhash 32/64) live in
# tests/test_lz4.py — the query proves the executor-side plumbing at
# data scale. Scale: mapInPandas, partition-local codec work, identical
# shape to the zstd/deflate/xz roundtrip queries (exponents 0.15-0.69).
# ---------------------------------------------------------------------------

def _lz4_frame_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib

    import pandas as pd

    from .operators.lz4codec import (lz4_frame_compress,
                                     lz4_frame_decompress)

    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)

    def roundtrip(it):
        for pdf in it:
            rows = []
            for did, t in zip(pdf["doc_id"].astype("int64"), pdf["text"]):
                raw = t.encode("utf-8")
                blob = lz4_frame_compress(raw, block_checksum=True)
                back = lz4_frame_decompress(blob)
                rows.append({
                    "doc_id": int(did),
                    "content_len": len(back),
                    "content_md5": hashlib.md5(back).hexdigest(),
                    "n_blocks": max(1, -(-len(raw) // 65536)),
                    "self_ok": back == raw,
                })
            yield pd.DataFrame(rows)

    return (src.mapInPandas(
                roundtrip, "doc_id long, content_len long,"
                           " content_md5 string, n_blocks int,"
                           " self_ok boolean")
               .transform(_sorted1, "doc_id"))


register(
    "lz4_frame_roundtrip",
    _lz4_frame_roundtrip,
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_len,
       md5(text) AS content_md5,
       CAST(GREATEST(1, CEIL(octet_length(encode(text)) / 65536.0))
            AS INT) AS n_blocks,
       TRUE AS self_ok
FROM documents ORDER BY doc_id
""",
    doc="LZ4 frames (liblz4 blocks and decoder via pyarrow, our "
        "xxHash32 checksums) driver-checked per document; lz4-java "
        "both-direction frame interop pins in tests/test_lz4.py.",
)


# ---------------------------------------------------------------------------
# zip_archive_extract (round 11): the ZIP container
# (operators/ziparchive.py — central directory read by stdlib zipfile,
# local headers, raw-zlib inflate and the CRC-32 verdict ours, archives
# written by our zip_create) on the driver-checked path with stdlib
# zipfile in the loop both directions, per bucket of documents:
#   stdlib zipfile (zlib deflate) builds the archive -> OURS extracts
#   OURS builds the archive -> stdlib extracts + testzip()s
# In the zipfile->ours direction zipfile reads the directory on both
# sides (a tautology kept for the owner to retire; inflate and CRC are
# ours); ours->zipfile pins our writer against an independent reader.
# Scale: applyInPandas per
# doc_id bucket (32 bounded groups of ~n/32 docs), archive work
# partition-local; same shape as webdataset_roundtrip.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _zip_archive_extract(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import io
    import zipfile

    import pandas as pd

    from .operators.ziparchive import zip_create, zip_extract

    d = (_t(spark, sf, "documents").select("doc_id", "text")
         .withColumn("bucket", (F.col("doc_id") % 32).cast("int")))

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        entries = [(f"doc_{int(i):08d}.txt", t.encode("utf-8"))
                   for i, t in sorted(zip(pdf["doc_id"], pdf["text"]))]
        # independent encoder -> our decoder
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for name, data in entries:
                info = zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0))
                zf.writestr(info, data)
        members = zip_extract(buf.getvalue())
        # our encoder -> independent decoder
        ours = zip_create(entries)
        zf2 = zipfile.ZipFile(io.BytesIO(ours))
        stdlib_ok = (zf2.testzip() is None
                     and [zf2.read(n) for n, _ in entries]
                     == [d_ for _, d_ in entries])
        rows = []
        for (name, data), m in zip(entries, members):
            rows.append({
                "doc_id": int(name[4:12]),
                "content_len": len(m["data"]),
                "content_md5": hashlib.md5(m["data"]).hexdigest(),
                "crc_ok": bool(m["crc_ok"]) and m["data"] == data,
                "stdlib_reads_ours": bool(stdlib_ok),
            })
        return pd.DataFrame(rows)

    return (_spread(d, "bucket", 32).groupBy("bucket")
             .applyInPandas(per_bucket,
                            "doc_id long, content_len long,"
                            " content_md5 string, crc_ok boolean,"
                            " stdlib_reads_ours boolean")
             .transform(_sorted1, "doc_id"))


register(
    "zip_archive_extract",
    _zip_archive_extract,
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_len,
       md5(text) AS content_md5,
       TRUE AS crc_ok,
       TRUE AS stdlib_reads_ours
FROM documents ORDER BY doc_id
""",
    doc="ZIP container with stdlib zipfile in the loop both "
        "directions per bucket: zipfile-built archives listed by "
        "zipfile's central-directory read and inflated + CRC-checked "
        "by ours, and our zip_create archives verified by stdlib "
        "testzip.",
)


# ---------------------------------------------------------------------------
# parquet_footer_stats (round 11): parquet FOOTER statistics on the
# driver-checked path, as the 100 TB pruning primitive: one task per
# table does a footer-ONLY read (``pyarrow.parquet.read_metadata`` —
# kilobytes per file regardless of file size) and emits the footer's
# own row counts, null counts and min/max statistics per column chunk,
# folded across row groups by ``_footer_column_stats``. The oracle
# recomputes THE SAME numbers from the data with a full DuckDB scan:
# the writer and the footer reader are both Arrow's parquet-cpp, the
# verifier is DuckDB.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------


def _footer_column_stats(path: str,
                         cols) -> tuple[int, dict[str, dict]]:
    """Footer-only statistics of one parquet file: its row count, and
    for each column of ``cols`` the null count, min and max folded
    across its row groups (min/max None when no row group has them).
    ``pyarrow.parquet.read_metadata`` reads only the footer."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    stats = {c: {"nulls": 0, "min": None, "max": None} for c in cols}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            chunk = rg.column(i)
            agg = stats.get(chunk.path_in_schema)
            st = chunk.statistics
            if agg is None or st is None:
                continue
            agg["nulls"] += st.null_count or 0
            if st.has_min_max:
                agg["min"] = st.min if agg["min"] is None \
                    else min(agg["min"], st.min)
                agg["max"] = st.max if agg["max"] is None \
                    else max(agg["max"], st.max)
    return md.num_rows, stats


_FOOTER_STAT_COLS: list[tuple[str, str]] = [
    ("customer", "c_acctbal"), ("customer", "c_custkey"),
    ("documents", "doc_id"), ("documents", "n_chars"),
    ("embeddings", "label"), ("embeddings", "vec_id"),
    ("events", "event_id"), ("events", "user_id"), ("events", "value"),
    ("lineitem", "l_discount"), ("lineitem", "l_extendedprice"),
    ("lineitem", "l_orderkey"), ("lineitem", "l_quantity"),
    ("nation", "n_nationkey"), ("orders", "o_custkey"),
    ("orders", "o_orderkey"), ("orders", "o_totalprice"),
    ("part", "p_retailprice"), ("part", "p_size"),
    ("region", "r_regionkey"), ("supplier", "s_suppkey"),
]


def _parquet_footer_stats(spark: SparkSession, sf: str) -> DataFrame:
    import os as _os

    import pandas as pd

    wanted: dict[str, list[str]] = {}
    for t, c in _FOOTER_STAT_COLS:
        wanted.setdefault(t, []).append(c)
    tables = sorted(wanted)
    src = (spark.createDataFrame([(t,) for t in tables], "tbl string")
           .repartition(len(tables), "tbl"))

    def per_table(it):
        for pdf in it:
            rows = []
            for t in pdf["tbl"]:
                n_rows, stats = _footer_column_stats(
                    _os.path.join(sf, f"{t}.parquet"), wanted[t])
                for col in wanted[t]:
                    agg = stats[col]
                    rows.append({
                        "tbl": t, "col": col, "n_rows": n_rows,
                        "null_count": agg["nulls"],
                        "min_v": float(agg["min"]),
                        "max_v": float(agg["max"]),
                    })
            yield pd.DataFrame(rows)

    return (src.mapInPandas(per_table,
                            "tbl string, col string, n_rows long,"
                            " null_count long, min_v double,"
                            " max_v double")
               .transform(_sorted1, "tbl", "col"))


register(
    "parquet_footer_stats",
    _parquet_footer_stats,
    "\nUNION ALL\n".join(
        f"SELECT '{t}' AS tbl, '{c}' AS col,"
        f" COUNT(*)::BIGINT AS n_rows,"
        f" SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT"
        f" AS null_count,"
        f" MIN({c})::DOUBLE AS min_v, MAX({c})::DOUBLE AS max_v"
        f" FROM {t}"
        for t, c in _FOOTER_STAT_COLS
    ) + "\nORDER BY tbl, col",
    doc="Parquet footer statistics as the pruning primitive: "
        "footer-only reads through pyarrow.parquet.read_metadata, one "
        "task per table; footer statistics must equal DuckDB's full "
        "rescan of the data.",
)


# ---------------------------------------------------------------------------
# rowgroup_pruning_scan (round 11): footer-based scan pruning driven
# END-TO-END — orders are bucketed by fixed price bands (one parquet
# file per band via repartition(bucket)+partitionBy, executor-side),
# then for each probe predicate the PRUNING DECISION is made from the
# footer statistics alone (``_footer_column_stats``: footer-only reads
# over the file manifest — the established file-manifest-sized lake-op
# class) and only surviving files are scanned. Published per
# predicate: how many files the footer stats admitted, and the exact
# row count + orderkey sum from the pruned scan. The oracle recomputes
# all three from a FULL scan — so a footer min/max read wrong either
# admits a file the oracle's band census doesn't count, or (worse)
# silently drops rows and breaks n_rows/key_sum. Integer sums keep the
# comparison exact.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

_PRUNE_BAND = 40000.0
_PRUNE_PREDICATES: list[tuple[float, float]] = [
    (0.0, 50000.0), (100000.0, 150000.0), (200000.0, 220000.0),
    (390000.0, 600000.0), (505000.0, 515000.0), (-100.0, 0.0),
]


def _rowgroup_pruning_scan(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    from functools import reduce

    out = _scratch_dir("footer_prune_", sf)
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    (orders
     .withColumn("bucket",
                 F.floor(F.col("o_totalprice") / _PRUNE_BAND).cast("int"))
     .repartition(F.col("bucket"))
     .write.partitionBy("bucket").mode("overwrite").parquet(out))

    files = sorted(_glob.glob(_os.path.join(out, "bucket=*", "*.parquet")))
    ranges = []
    for path in files:                  # footer-ONLY reads, manifest-sized
        _, stats = _footer_column_stats(path, ["o_totalprice"])
        st = stats["o_totalprice"]
        ranges.append((path, st["min"], st["max"]))

    parts = []
    for i, (lo, hi) in enumerate(_PRUNE_PREDICATES):
        survivors = [p for p, mn, mx in ranges if mx >= lo and mn <= hi]
        base = (spark.createDataFrame(
                    [], "o_orderkey long, o_totalprice double")
                if not survivors else
                spark.read.parquet(*survivors)
                     .where(F.col("o_totalprice").between(lo, hi)))
        parts.append(base.agg(
            F.lit(i).alias("pred_id"),
            F.lit(float(lo)).alias("lo"), F.lit(float(hi)).alias("hi"),
            F.lit(len(survivors)).alias("n_files_scanned"),
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.sum("o_orderkey"), F.lit(0)).cast("long")
             .alias("key_sum")))
    return reduce(lambda a, b: a.unionAll(b), parts).transform(_sorted1, "pred_id")


register(
    "rowgroup_pruning_scan",
    _rowgroup_pruning_scan,
    "\nUNION ALL\n".join(
        f"""SELECT {i} AS pred_id, CAST({lo} AS DOUBLE) AS lo,
 CAST({hi} AS DOUBLE) AS hi,
 (SELECT CAST(COUNT(*) AS INT) FROM
   (SELECT FLOOR(o_totalprice / {_PRUNE_BAND}) AS b,
           MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
    FROM orders GROUP BY 1)
  WHERE mx >= {lo} AND mn <= {hi}) AS n_files_scanned,
 (SELECT COUNT(*) FROM orders
  WHERE o_totalprice BETWEEN {lo} AND {hi}) AS n_rows,
 (SELECT CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT) FROM orders
  WHERE o_totalprice BETWEEN {lo} AND {hi}) AS key_sum"""
        for i, (lo, hi) in enumerate(_PRUNE_PREDICATES)
    ) + "\nORDER BY pred_id",
    doc="Footer-stat scan pruning end-to-end: per-band parquet files, "
        "pruning decided from pyarrow footer statistics alone, survivors "
        "rescanned; files-admitted census and exact integer aggregates "
        "both pinned against a DuckDB full scan.",
)


# ---------------------------------------------------------------------------
# sqlite_table_scan (round 11): SQLite database files on the
# driver-checked path: per bucket of documents, the real SQLite library
# (stdlib sqlite3, executor-side) builds a database with an INTEGER
# PRIMARY KEY table, serializes it, and ``sqlite_read_table``
# (operators/sqlitefile.py) reads the bytes back through the same
# library (``deserialize``); texts are long enough that some rows
# traverse overflow chains and the 500+-row buckets span interior
# pages at sf>=0.1. row_ok compares what SQLite wrote with what SQLite
# read back. Every published value is recomputed by the oracle from
# the parquet originals. Scale:
# applyInPandas per doc_id bucket — partition-local bytes-in/rows-out,
# one file per bucket, the established container-walker shape.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _sqlite_table_scan(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib
    import sqlite3

    import pandas as pd

    from .operators.sqlitefile import sqlite_read_table

    d = (_t(spark, sf, "documents")
         .select("doc_id", "text", "n_chars", "lang")
         .withColumn("bucket", (F.col("doc_id") % 32).cast("int")))

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        con = sqlite3.connect(":memory:")
        con.execute("CREATE TABLE docs("
                    "doc_id INTEGER PRIMARY KEY, text TEXT,"
                    " n_chars INTEGER, lang TEXT)")
        src = sorted(zip(pdf["doc_id"], pdf["text"], pdf["n_chars"],
                         pdf["lang"]))
        con.executemany("INSERT INTO docs VALUES (?,?,?,?)",
                        [(int(i), t, int(n), lg) for i, t, n, lg in src])
        con.commit()
        decoded = sqlite_read_table(con.serialize(), "docs")
        assert decoded["columns"] == ["doc_id", "text", "n_chars",
                                      "lang"]
        rows = []
        for (i, t, n, lg), (di, dt, dn, dlg) in zip(src,
                                                    decoded["rows"]):
            rows.append({
                "doc_id": int(di),
                "n_chars_db": int(dn),
                "lang": dlg,
                "text_md5": hashlib.md5(dt.encode("utf-8")).hexdigest(),
                "row_ok": (di, dt, dn, dlg) == (int(i), t, int(n), lg),
            })
        return pd.DataFrame(rows)

    return (_spread(d, "bucket", 32).groupBy("bucket")
             .applyInPandas(per_bucket,
                            "doc_id long, n_chars_db long, lang string,"
                            " text_md5 string, row_ok boolean")
             .transform(_sorted1, "doc_id"))


register(
    "sqlite_table_scan",
    _sqlite_table_scan,
    """
SELECT doc_id,
       n_chars AS n_chars_db,
       lang,
       md5(text) AS text_md5,
       TRUE AS row_ok
FROM documents ORDER BY doc_id
""",
    doc="SQLite database files on the driver-checked path: the stdlib "
        "sqlite3 writes each bucket's database and reads the serialized "
        "bytes back through sqlite_read_table; values pinned against "
        "the parquet originals.",
)


# ---------------------------------------------------------------------------
# string_distance_suite (round 11): the record-linkage edit-distance
# primitives (functions/strdist.py — Wagner-Fischer Levenshtein,
# UNRESTRICTED Lowrance-Wagner Damerau-Levenshtein, Jaro-Winkler with
# the 0.7/4/0.1 boost rule, Hamming) computed from scratch in an Arrow
# batch over three deterministic pair families (digit-shifted
# neighbors, full reversals, 0→O confusable swaps) and pinned against
# DuckDB's FOUR independent native implementations in the oracle —
# verified bit-exact including the raw float Jaro-Winkler, published
# micro-quantized. Scale: one self-equi-join on a synthetic key plus
# two narrow projections; distances are per-pair O(len²) on 18-byte
# names inside mapInPandas. Blocking (never all-pairs) remains the
# caller's contract, as with fellegi_sunter_weights.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _string_distance_suite(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from .functions.strdistvec import (damerau_levenshtein_batch,
                                       hamming_batch, jaro_winkler_batch,
                                       levenshtein_batch)

    c = (_t(spark, sf, "customer")
         .select(F.col("c_custkey").alias("k"), F.col("c_name").alias("n")))
    a, b = c.alias("a"), c.alias("b")
    shifted = (a.join(b, F.col("b.k") == F.col("a.k") + 7)
               .select(F.lit("shift7").alias("pair_type"),
                       F.col("a.n").alias("x"), F.col("b.n").alias("y")))
    reversed_ = c.select(F.lit("reverse").alias("pair_type"),
                         F.col("n").alias("x"),
                         F.reverse("n").alias("y"))
    confus = c.select(F.lit("confusable").alias("pair_type"),
                      F.col("n").alias("x"),
                      F.regexp_replace("n", "0", "O").alias("y"))
    pairs = shifted.unionAll(reversed_).unionAll(confus)

    def dist(it):
        # whole-batch NumPy DP (functions/strdistvec.py, scalar-pinned
        # in tests/test_strdistvec.py): one vector step per DP cell
        # across the batch instead of a Python loop per pair.
        for pdf in it:
            bx = [x.encode("utf-8") for x in pdf["x"]]
            by = [y.encode("utf-8") for y in pdf["y"]]
            jw = jaro_winkler_batch(bx, by)
            yield pd.DataFrame({
                "pair_type": pdf["pair_type"], "x": pdf["x"],
                "lev": levenshtein_batch(bx, by).astype(np.int64),
                "dl": damerau_levenshtein_batch(bx, by).astype(np.int64),
                "jw_micro": np.rint(jw * 1000000.0).astype(np.int64),
                "ham": hamming_batch(bx, by),
            })

    return _sorted1(
        pairs.repartition(spark.sparkContext.defaultParallelism)
             .mapInPandas(dist, "pair_type string, x string,"
                                " lev long, dl long, jw_micro long,"
                                " ham long"),
        "pair_type", "x")


register(
    "string_distance_suite",
    _string_distance_suite,
    """
WITH c AS (SELECT c_custkey AS k, c_name AS n FROM customer),
p AS (
  SELECT 'shift7' AS pair_type, a.n AS x, b.n AS y
  FROM c a JOIN c b ON b.k = a.k + 7
  UNION ALL
  SELECT 'reverse', n, reverse(n) FROM c
  UNION ALL
  SELECT 'confusable', n, replace(n, '0', 'O') FROM c)
SELECT pair_type, x,
       CAST(levenshtein(x, y) AS BIGINT) AS lev,
       CAST(damerau_levenshtein(x, y) AS BIGINT) AS dl,
       CAST(ROUND(jaro_winkler_similarity(x, y) * 1000000.0) AS BIGINT)
         AS jw_micro,
       CAST(hamming(x, y) AS BIGINT) AS ham
FROM p ORDER BY pair_type, x
""",
    doc="From-scratch Levenshtein / unrestricted Damerau-Levenshtein / "
        "Jaro-Winkler / Hamming inside Arrow batches, pinned against "
        "DuckDB's four independent native implementations over three "
        "deterministic pair families.",
)


# ---------------------------------------------------------------------------
# geo_nearest_city (round 11): geospatial enrichment — deterministic
# synthetic coordinates per customer (integer-exact grid transforms,
# identical in both engines), great-circle haversine distance to a
# fixed 8-city dimension, nearest-city assignment with a total
# (dist, name) tie-break, and the bounding-box prefilter census that
# demonstrates the spatial-pruning shape (±20° boxes = integer-exact
# candidate counting BEFORE any trig — at fleet scale the bbox is the
# partition/prune key and the trig runs only on survivors). Distances
# are published as whole meters; Python libm and DuckDB libm were
# verified bit-identical on this exact formula over the full grid
# (worst abs delta 0.0), so the rounding cannot flip. Scale: the city
# dim rides the Arrow closure (broadcast-equivalent), per-row O(8)
# work, no shuffle before the final sort.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

_GEO_CITIES: list[tuple[str, float, float]] = [
    ("lima", -12.0, -77.0), ("nyc", 40.7, -74.0),
    ("madrid", 40.4, -3.7), ("tokyo", 35.7, 139.7),
    ("sydney", -33.9, 151.2), ("saopaulo", -23.6, -46.6),
    ("lagos", 6.5, 3.4), ("mumbai", 19.1, 72.9),
]


def _geo_nearest_city(spark: SparkSession, sf: str) -> DataFrame:
    import math

    import pandas as pd

    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("k"))

    def enrich(it):
        r2 = 2.0 * 6371008.8
        for pdf in it:
            rows = []
            for k in pdf["k"].astype("int64"):
                k = int(k)
                lat = (k * 37 % 1800) / 10.0 - 90.0
                lon = (k * 73 % 3600) / 10.0 - 180.0
                best = None
                n_bbox = 0
                for name, clat, clon in _GEO_CITIES:
                    if abs(clat - lat) <= 20.0 and abs(clon - lon) <= 20.0:
                        n_bbox += 1
                    h = (math.sin(math.radians(clat - lat) / 2) ** 2
                         + math.cos(math.radians(lat))
                         * math.cos(math.radians(clat))
                         * math.sin(math.radians(clon - lon) / 2) ** 2)
                    d = r2 * math.asin(math.sqrt(h))
                    if best is None or (d, name) < best:
                        best = (d, name)
                rows.append({"c_custkey": k, "nearest_city": best[1],
                             "dist_m": round(best[0]),
                             "n_bbox": n_bbox})
            yield pd.DataFrame(rows)

    return (c.mapInPandas(enrich, "c_custkey long, nearest_city string,"
                                  " dist_m long, n_bbox int")
             .transform(_sorted1, "c_custkey"))


register(
    "geo_nearest_city",
    _geo_nearest_city,
    """
WITH cities(name, clat, clon) AS (VALUES
  ('lima', -12.0, -77.0), ('nyc', 40.7, -74.0),
  ('madrid', 40.4, -3.7), ('tokyo', 35.7, 139.7),
  ('sydney', -33.9, 151.2), ('saopaulo', -23.6, -46.6),
  ('lagos', 6.5, 3.4), ('mumbai', 19.1, 72.9)),
pts AS (
  SELECT c_custkey AS k,
         (c_custkey * 37 % 1800) / 10.0 - 90.0 AS lat,
         (c_custkey * 73 % 3600) / 10.0 - 180.0 AS lon
  FROM customer),
d AS (
  SELECT k, name,
         2.0 * 6371008.8 * asin(sqrt(
           pow(sin(radians(clat - lat) / 2), 2)
           + cos(radians(lat)) * cos(radians(clat))
           * pow(sin(radians(clon - lon) / 2), 2))) AS dist,
         CASE WHEN abs(clat - lat) <= 20.0 AND abs(clon - lon) <= 20.0
              THEN 1 ELSE 0 END AS in_box,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY
           2.0 * 6371008.8 * asin(sqrt(
             pow(sin(radians(clat - lat) / 2), 2)
             + cos(radians(lat)) * cos(radians(clat))
             * pow(sin(radians(clon - lon) / 2), 2))), name) AS rn
  FROM pts CROSS JOIN cities)
SELECT k AS c_custkey,
       MAX(CASE WHEN rn = 1 THEN name END) AS nearest_city,
       CAST(ROUND(MAX(CASE WHEN rn = 1 THEN dist END)) AS BIGINT)
         AS dist_m,
       CAST(SUM(in_box) AS INT) AS n_bbox
FROM d GROUP BY k ORDER BY c_custkey
""",
    doc="Geospatial enrichment: haversine nearest-city over a fixed "
        "broadcast dimension with deterministic synthetic coordinates, "
        "plus the integer-exact bounding-box prefilter census (the "
        "spatial-pruning shape); libm verified bit-identical across "
        "engines on this formula.",
)


# ---------------------------------------------------------------------------
# funnel_attribution (round 11): marketing-style first/last-touch
# attribution — every purchase is attributed to the view/click touch
# in its trailing 7-day window, winner chosen by a TOTAL (time,
# event_id) order so ties cannot wobble. Spark side is pure window
# algebra: one RANGE frame over event-time micros per user (no self
# join, no shuffle beyond the user partition); struct max/min give
# argmax/argmin in a single pass. The oracle mirrors it with an
# explicit join + ROW_NUMBER, so two different formulations must
# agree. Integer micros end-to-end.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

_SEVEN_D_US = 7 * 86400 * 1000000


def _funnel_attribution(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = (_t(spark, sf, "events")
         .select("user_id", "event_id", "event_type",
                 F.unix_micros(F.col("ts").cast("timestamp")).alias("us")))
    touch = F.when(F.col("event_type").isin("view", "click"),
                   F.struct(F.col("us"), F.col("event_id"),
                            F.col("event_type")))
    w = (Window.partitionBy("user_id").orderBy("us")
         .rangeBetween(-_SEVEN_D_US, -1))
    attributed = (e
                  .withColumn("last_t", F.max(touch).over(w))
                  .withColumn("first_t", F.min(touch).over(w))
                  .where(F.col("event_type") == "purchase"))
    return (attributed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("last_t").isNotNull().cast("int")).cast("long")
         .alias("n_attributed"),
        F.sum((F.col("last_t.event_type") == "click").cast("int"))
         .cast("long").alias("n_last_click"),
        F.sum((F.col("last_t.event_type") == "view").cast("int"))
         .cast("long").alias("n_last_view"),
        F.sum((F.col("first_t.event_type") == "click").cast("int"))
         .cast("long").alias("n_first_click"))
        .transform(_sorted1, "user_id"))


register(
    "funnel_attribution",
    _funnel_attribution,
    f"""
WITH e AS (SELECT user_id, event_id, event_type,
                  epoch_us(ts::TIMESTAMP) AS us FROM events),
p AS (SELECT * FROM e WHERE event_type = 'purchase'),
t AS (SELECT * FROM e WHERE event_type IN ('view', 'click')),
j AS (SELECT p.user_id, p.event_id AS pid, t.event_type AS ttype,
             t.us AS tus, t.event_id AS tid
      FROM p LEFT JOIN t ON t.user_id = p.user_id
        AND t.us >= p.us - {_SEVEN_D_US} AND t.us < p.us),
r AS (SELECT *,
        ROW_NUMBER() OVER (PARTITION BY user_id, pid
          ORDER BY tus DESC NULLS LAST, tid DESC) AS rn_last,
        ROW_NUMBER() OVER (PARTITION BY user_id, pid
          ORDER BY tus ASC NULLS LAST, tid ASC) AS rn_first
      FROM j)
SELECT user_id,
  COUNT(DISTINCT pid) AS n_purchases,
  CAST(SUM(CASE WHEN rn_last = 1 AND tus IS NOT NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS n_attributed,
  CAST(SUM(CASE WHEN rn_last = 1 AND ttype = 'click' THEN 1 ELSE 0 END)
    AS BIGINT) AS n_last_click,
  CAST(SUM(CASE WHEN rn_last = 1 AND ttype = 'view' THEN 1 ELSE 0 END)
    AS BIGINT) AS n_last_view,
  CAST(SUM(CASE WHEN rn_first = 1 AND ttype = 'click' THEN 1 ELSE 0 END)
    AS BIGINT) AS n_first_click
FROM r GROUP BY user_id ORDER BY user_id
""",
    doc="First/last-touch purchase attribution over trailing 7-day "
        "windows: Spark uses one RANGE frame with struct argmax/argmin "
        "per user; the oracle re-derives it with an explicit join + "
        "ROW_NUMBER — two formulations, one answer.",
)


# ---------------------------------------------------------------------------
# kaplan_meier_conversion (round 11): survival analysis over the
# signup→first-purchase funnel — the Kaplan-Meier estimator with
# right-censoring at a fixed horizon (2024-02-01). Durations are whole
# days (integer micros arithmetic, exact in both engines); at each
# distinct duration the risk set is a reverse cumulative sum, and the
# survival curve S(d) = Π_{d'≤d} (1 − events/at_risk) is computed as a
# RANK-ORDERED FLOAT FOLD (collect_list over the ordered frame +
# F.aggregate) so the multiplication sequence is identical to the
# oracle's windowed PRODUCT() — same doubles, same order, bit-equal,
# then micro-quantized. The curve table is duration-bounded (≤ the
# observation span in days), so the fold is constant-size.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

_KM_HORIZON_US = 1706745600 * 1000000   # 2024-02-01T00:00:00Z


def _kaplan_meier_conversion(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = (_t(spark, sf, "events")
         .select("user_id", "event_type",
                 F.unix_micros(F.col("ts").cast("timestamp")).alias("us")))
    signup = (e.where(F.col("event_type") == "signup")
              .groupBy("user_id").agg(F.min("us").alias("s_us")))
    first_p = (e.where(F.col("event_type") == "purchase")
               .groupBy("user_id").agg(F.min("us").alias("p_us")))
    subj = (signup.join(first_p, "user_id", "left")
            .withColumn("converted",
                        F.col("p_us").isNotNull()
                        & (F.col("p_us") >= F.col("s_us")))
            .withColumn("end_us",
                        F.when(F.col("converted"), F.col("p_us"))
                         .otherwise(F.lit(_KM_HORIZON_US)))
            .withColumn("dur_days",
                        ((F.col("end_us") - F.col("s_us"))
                         / F.lit(86400000000)).cast("long")))
    per_d = (subj.groupBy("dur_days").agg(
        F.sum(F.col("converted").cast("int")).cast("long")
         .alias("n_events"),
        F.sum((~F.col("converted")).cast("int")).cast("long")
         .alias("n_censored")))
    w_desc = (Window.orderBy(F.col("dur_days").desc())
              .rowsBetween(Window.unboundedPreceding, 0))
    w_asc = (Window.orderBy("dur_days")
             .rowsBetween(Window.unboundedPreceding, 0))
    curve = (per_d
             .withColumn("n_at_risk",
                         F.sum(F.col("n_events") + F.col("n_censored"))
                          .over(w_desc))
             .withColumn("factor",
                         F.lit(1.0) - F.col("n_events").cast("double")
                         / F.col("n_at_risk").cast("double"))
             .withColumn("surv",
                         F.aggregate(F.collect_list("factor").over(w_asc),
                                     F.lit(1.0), lambda a, x: a * x)))
    return (curve.select(
        "dur_days", "n_at_risk", "n_events", "n_censored",
        F.round(F.col("surv") * 1000000.0).cast("long")
         .alias("surv_micro"))
        .orderBy("dur_days"))


register(
    "kaplan_meier_conversion",
    _kaplan_meier_conversion,
    f"""
WITH e AS (SELECT user_id, event_type,
                  epoch_us(ts::TIMESTAMP) AS us FROM events),
s AS (SELECT user_id, MIN(us) AS s_us FROM e
      WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT user_id, MIN(us) AS p_us FROM e
      WHERE event_type = 'purchase' GROUP BY user_id),
subj AS (
  SELECT s.user_id,
         (p.p_us IS NOT NULL AND p.p_us >= s.s_us) AS converted,
         CAST((CASE WHEN p.p_us IS NOT NULL AND p.p_us >= s.s_us
                    THEN p.p_us ELSE {_KM_HORIZON_US} END - s.s_us)
              // 86400000000 AS BIGINT) AS dur_days
  FROM s LEFT JOIN p USING (user_id)),
per_d AS (
  SELECT dur_days,
         CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
           AS n_events,
         CAST(SUM(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT)
           AS n_censored
  FROM subj GROUP BY dur_days),
curve AS (
  SELECT *,
         CAST(SUM(n_events + n_censored) OVER (ORDER BY dur_days DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS n_at_risk
  FROM per_d)
SELECT dur_days, n_at_risk, n_events, n_censored,
       CAST(ROUND(PRODUCT(1.0 - CAST(n_events AS DOUBLE)
                          / CAST(n_at_risk AS DOUBLE))
         OVER (ORDER BY dur_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         * 1000000.0) AS BIGINT) AS surv_micro
FROM curve ORDER BY dur_days
""",
    doc="Kaplan-Meier signup→purchase survival with fixed-horizon "
        "right-censoring: integer day durations, reverse-cumulative "
        "risk sets, survival via a rank-ordered float fold matching "
        "the oracle's windowed PRODUCT() multiplication order.",
)


# ---------------------------------------------------------------------------
# gini_concentration (round 11): revenue-inequality metrics per market
# segment — the Gini coefficient from the closed rank form
# G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) over ascending-sorted
# customer revenues, plus the Lorenz top-decile share. All mass terms
# are EXACT integer cents in DECIMAL(38) accumulation (the repo's
# float discipline), the rank weighting is tie-safe (equal x values
# contribute the same Σ i·x under any permutation of their ranks), and
# only the final ratio is a double — identical in both engines.
# Zero-order customers enter with zero revenue (left join), which is
# what makes the inequality statement about the SEGMENT, not just its
# buyers. Scale: one fact aggregation, one segment-partitioned window.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _gini_concentration(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    orders = (_t(spark, sf, "orders")
              .groupBy("o_custkey")
              .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                         .cast("decimal(38,0)")).alias("cents")))
    rev = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
           .select("c_custkey", "c_mktsegment",
                   F.coalesce(F.col("cents"),
                              F.lit(0).cast("decimal(38,0)"))
                    .alias("cents")))
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.col("cents"), F.col("c_custkey")))
    ranked = (rev.withColumn("i", F.row_number().over(w))
              .withColumn("seg_n", F.count(F.lit(1)).over(
                  Window.partitionBy("c_mktsegment")))
              .withColumn("in_top",
                          F.col("i") > (F.col("seg_n") * 9 / 10)
                          .cast("long")))
    per_seg = (ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s0"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents"))
         .cast("decimal(38,0)").alias("s1"),
        F.sum(F.when(F.col("in_top"), F.col("cents"))
               .otherwise(F.lit(0).cast("decimal(38,0)")))
         .cast("decimal(38,0)").alias("top_decile_cents")))
    return (per_seg.select(
        "c_mktsegment", "n",
        F.col("s0").cast("long").alias("total_cents"),
        F.round((F.lit(2.0) * F.col("s1").cast("double")
                 - (F.col("n") + 1).cast("double")
                 * F.col("s0").cast("double"))
                / (F.col("n").cast("double")
                   * F.col("s0").cast("double")) * 1000000.0)
         .cast("long").alias("gini_micro"),
        F.round(F.col("top_decile_cents").cast("double")
                / F.col("s0").cast("double") * 1000000.0)
         .cast("long").alias("top10_share_micro"))
        .transform(_sorted1, "c_mktsegment"))


register(
    "gini_concentration",
    _gini_concentration,
    """
WITH rev AS (
  SELECT c.c_custkey, c.c_mktsegment,
         COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS HUGEINT)), 0)
           AS cents
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY cents, c_custkey) AS i,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS seg_n
  FROM rev)
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(ROUND((2.0 * CAST(SUM(CAST(i AS HUGEINT) * cents) AS DOUBLE)
                   - CAST(COUNT(*) + 1 AS DOUBLE)
                     * CAST(SUM(cents) AS DOUBLE))
                  / (CAST(COUNT(*) AS DOUBLE)
                     * CAST(SUM(cents) AS DOUBLE)) * 1000000.0)
            AS BIGINT) AS gini_micro,
       CAST(ROUND(CAST(SUM(CASE WHEN i > seg_n * 9 / 10 THEN cents
                                ELSE 0 END) AS DOUBLE)
                  / CAST(SUM(cents) AS DOUBLE) * 1000000.0)
            AS BIGINT) AS top10_share_micro
FROM ranked GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    doc="Gini coefficient + Lorenz top-decile share of customer revenue "
        "per market segment: exact integer-cents mass terms in "
        "DECIMAL(38), tie-safe rank weighting, zero-order customers "
        "included; only the final ratio is floating point.",
)


# ---------------------------------------------------------------------------
# git_packfile_scan (round 11): the git object-store codec
# (operators/gitpack.py — PACK v2 walk, OFS/REF delta decode, loose and
# packed zlib objects via stdlib zlib, SHA-1 object ids via stdlib
# hashlib) on the driver-checked path with the REAL git binary writing
# every byte: per bucket of documents an actual repository takes two
# commits (v1 text, then an appended marker) and is gc-packed, so
# HEAD's blobs are typically stored as genuine delta chains; OUR
# reader walks the pack, resolves the HEAD tree and
# publishes the decoded blob md5s, which the oracle recomputes from
# the parquet originals — one wrong delta copy breaks the hash.
# sha_ok is whether each id git's tree names is a blob in our object
# map, which is keyed by the ids our reader computes (type/length
# header framing), so it pins ours against git's; a miss publishes
# False with a null length and md5. Scale: applyInPandas per doc_id
# bucket (16 bounded groups), repo work partition-local — the
# mining-code-from-git shape, one repository per task.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _git_pick_blobs(objs: dict, doc_ids: list, shas: list):
    """One row per document: look git's id up in ``objs``. A hit on a
    blob proves the id, because ``read_repo_objects`` keys every object
    by the SHA-1 of its own bytes; a miss (or a non-blob) gives
    ``sha_ok`` False and a null length and md5."""
    import hashlib

    import pandas as pd

    blobs = [o[1] if o is not None and o[0] == "blob" else None
             for o in (objs.get(sha) for sha in shas)]
    return pd.DataFrame({
        "doc_id": doc_ids,
        "content_len": pd.array([None if c is None else len(c)
                                 for c in blobs], dtype="Int64"),
        "content_md5": [None if c is None else hashlib.md5(c).hexdigest()
                        for c in blobs],
        "sha_ok": [c is not None for c in blobs],
    })


def _git_packfile_scan(spark: SparkSession, sf: str) -> DataFrame:
    import os as _os
    import shutil as _shutil
    import subprocess
    import tempfile

    import pandas as pd

    from .operators.gitpack import parse_tree, read_repo_objects

    d = (_t(spark, sf, "documents").select("doc_id", "text")
         .withColumn("bucket", (F.col("doc_id") % 16).cast("int")))

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        env = dict(_os.environ,
                   GIT_AUTHOR_NAME="t", GIT_AUTHOR_EMAIL="t@t",
                   GIT_COMMITTER_NAME="t", GIT_COMMITTER_EMAIL="t@t",
                   GIT_AUTHOR_DATE="2024-01-01T00:00:00Z",
                   GIT_COMMITTER_DATE="2024-01-01T00:00:00Z",
                   GIT_CONFIG_GLOBAL="/dev/null",
                   GIT_CONFIG_SYSTEM="/dev/null")
        # Scratch repos are transient per-task fixtures; on a RAM-backed
        # dir the 16 concurrent gits stop convoying on the root disk
        # (measured: 16-bucket git phase 3.6 s on /tmp vs 0.4 s on
        # /dev/shm — object-store writes are tiny-file fsync-ish I/O).
        # Standard fast-local-scratch placement (guide §2.1 disk
        # bandwidth), overridable via SPARK_GRAFT_SCRATCH_DIR.
        scratch = _os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
        if scratch is None and _os.path.isdir("/dev/shm") \
                and _os.access("/dev/shm", _os.W_OK):
            scratch = "/dev/shm"
        repo = tempfile.mkdtemp(prefix="gitscan_", dir=scratch)

        def git(*args):
            p = subprocess.run(["git", *args], cwd=repo, env=env,
                               capture_output=True, text=True)
            if p.returncode:
                raise RuntimeError(
                    f"git {' '.join(args)} rc={p.returncode}: "
                    f"{p.stderr.strip()[:400]}")

        try:
            git("init", "-q")
            # above ~6700 loose objects (sf1 buckets) a commit triggers
            # a DETACHED auto-gc that our explicit gc then collides
            # with ("gc is already running"); keep gc fully manual
            git("config", "gc.auto", "0")
            docs = sorted(zip(pdf["doc_id"].astype("int64"),
                              pdf["text"]))
            for did, text in docs:
                with open(_os.path.join(repo, f"doc_{did:08d}.txt"),
                          "w") as f:
                    f.write(text)
            git("add", "-A")
            git("commit", "-q", "-m", "v1")
            for did, text in docs:
                with open(_os.path.join(repo, f"doc_{did:08d}.txt"),
                          "w") as f:
                    f.write(text + f"\nV2 {did}")
            git("add", "-A")
            git("commit", "-q", "-m", "v2")
            # buckets gc concurrently: stay in the foreground (a
            # detached gc races the tempdir cleanup) and pack on one
            # thread each (concurrent online-cpu thread pools starved
            # the JVM-sized process at sf1 — exit 128 from pack-objects)
            git("-c", "gc.autoDetach=false", "-c", "pack.threads=1",
                "gc", "-q")
            head_tree = subprocess.run(
                ["git", "rev-parse", "HEAD^{tree}"], check=True,
                cwd=repo, env=env,
                capture_output=True).stdout.decode().strip()
            objs = read_repo_objects(_os.path.join(repo, ".git"))
            tree = {e["name"]: e["sha"]
                    for e in parse_tree(objs[head_tree][1])}
            return _git_pick_blobs(
                objs, [int(did) for did, _ in docs],
                [tree[f"doc_{did:08d}.txt"] for did, _ in docs])
        finally:
            _shutil.rmtree(repo, ignore_errors=True)

    # 16 buckets, measured: widening to 32 was SLOWER (5.1 s vs 4.2 s
    # wall) — 32 concurrent repositories quadruple-fork git per bucket
    # and the subprocess storm beats the extra parallelism.
    return (_spread(d, "bucket", 16).groupBy("bucket")
             .applyInPandas(per_bucket,
                            "doc_id long, content_len long,"
                            " content_md5 string, sha_ok boolean")
             .transform(_sorted1, "doc_id"))


register(
    "git_packfile_scan",
    _git_packfile_scan,
    """
SELECT doc_id,
       CAST(octet_length(encode(text || chr(10) || 'V2 ' || doc_id))
            AS BIGINT) AS content_len,
       md5(text || chr(10) || 'V2 ' || doc_id) AS content_md5,
       TRUE AS sha_ok
FROM documents ORDER BY doc_id
""",
    doc="git packfile codec on the driver-checked path: the real git "
        "binary commits and gc-packs each bucket (genuine delta "
        "chains), our reader walks the pack and HEAD tree; decoded blob "
        "md5s pinned against the parquet originals and our hashlib "
        "SHA-1 object ids against git's own.",
)


# ---------------------------------------------------------------------------
# scratch_hash_audit (round 11): the digest family on the driver-checked
# path — MD5, SHA-1 and SHA-256 from stdlib hashlib (OpenSSL) over every
# document. The md5 column is compared against DuckDB's md5() by the
# driver itself, an independent implementation. The sha flags check a
# one-shot digest against one fed in two updates: both are hashlib, so
# they are tautologies kept for the query's columns. Scale: mapInPandas,
# partition-local, pure CPU. Registered BEHIND the r11 window.
# ---------------------------------------------------------------------------

def _hash_audit_digest(it):
    """Partition function of ``scratch_hash_audit``: per document, the
    md5 of its UTF-8 text and the two SHA flags."""
    import hashlib

    import pandas as pd

    def split_agrees(name: str, raw: bytes) -> bool:
        h = hashlib.new(name, raw[:len(raw) // 2])
        h.update(raw[len(raw) // 2:])
        return h.digest() == hashlib.new(name, raw).digest()

    for pdf in it:
        raws = [t.encode("utf-8") for t in pdf["text"]]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].astype("int64"),
            "content_md5": [hashlib.md5(raw).hexdigest() for raw in raws],
            "sha1_ok": [split_agrees("sha1", raw) for raw in raws],
            "sha256_ok": [split_agrees("sha256", raw) for raw in raws],
        })


def _scratch_hash_audit(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)
    return _sorted1(
        src.mapInPandas(_hash_audit_digest,
                        "doc_id long, content_md5 string,"
                        " sha1_ok boolean, sha256_ok boolean"),
        "doc_id")


register(
    "scratch_hash_audit",
    _scratch_hash_audit,
    """
SELECT doc_id,
       md5(text) AS content_md5,
       TRUE AS sha1_ok,
       TRUE AS sha256_ok
FROM documents ORDER BY doc_id
""",
    doc="hashlib MD5/SHA-1/SHA-256 on the driver-checked path: the "
        "md5 vs DuckDB's md5() via the driver hash; the SHA flags "
        "compare one-shot with two-part hashlib digests per row.",
)


# ---------------------------------------------------------------------------
# zipf_heaps_fit (round 11): corpus-law diagnostics — the Zipf
# rank-frequency exponent (OLS on ln rank vs ln count over the top-200
# terms) and the Heaps vocabulary-growth exponent (OLS on ln V(N) vs
# ln N over every 5th document prefix). Float discipline: ln values
# are micro-quantized (JVM Math.log, glibc ln and Python math.log
# verified to agree micro-exactly over 1..400k) and every OLS moment
# is an EXACT decimal/HUGEINT sum of integer products — only the final
# slope/r² divisions are floating point, identical in both engines.
# Scale: one token explode + two hash aggregations; the rank window
# runs over the vocabulary (bounded, ~50k at sf1) and the prefix
# window over per-doc counts. Registered BEHIND the r11 window.
# ---------------------------------------------------------------------------

_ZIPF_TOP = 200


def _zipf_heaps_fit(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d = _t(spark, sf, "documents").select("doc_id", "text")
    toks = d.select("doc_id",
                    F.explode(F.split(F.trim("text"), r"\s+"))
                     .alias("term"))
    stats = (toks.groupBy("term")
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.min("doc_id").alias("first_doc")))

    def dec(c):
        return c.cast("decimal(19,0)")

    def ols(points, x, y, labels):
        p = points.select(dec(x).alias("x"), dec(y).alias("y"))
        agg = p.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"), F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"))
        n = F.col("n").cast("double")
        sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
        sxy = F.col("sxy").cast("double")
        sxx = F.col("sxx").cast("double")
        syy = F.col("syy").cast("double")
        num = n * sxy - sx * sy
        den = n * sxx - sx * sx
        return agg.select(
            F.col("n").alias(labels[0]),
            F.round(num / den * 1000000.0).cast("long").alias(labels[1]),
            F.round(num * num / (den * (n * syy - sy * sy))
                    * 1000000.0).cast("long").alias(labels[2]))

    micro = 1000000.0
    zipf_pts = (stats
                .withColumn("rank", F.row_number().over(
                    Window.orderBy(F.col("cnt").desc(), F.col("term"))))
                .where(F.col("rank") <= _ZIPF_TOP)
                .select(F.round(F.log(F.col("rank").cast("double"))
                                * micro).cast("long").alias("xm"),
                        F.round(F.log(F.col("cnt").cast("double"))
                                * micro).cast("long").alias("ym")))
    zipf = ols(zipf_pts, F.col("xm"), F.col("ym"),
               ["zipf_points", "zipf_slope_micro", "zipf_r2_micro"])

    w_doc = (Window.orderBy("doc_id")
             .rowsBetween(Window.unboundedPreceding, 0))
    per_doc = (toks.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("ntok")))
    new_terms = (stats.groupBy("first_doc")
                 .agg(F.count(F.lit(1)).alias("nv")))
    growth = (per_doc.join(new_terms,
                           per_doc.doc_id == new_terms.first_doc, "left")
              .select(per_doc.doc_id, "ntok",
                      F.coalesce(F.col("nv"), F.lit(0)).alias("nv"))
              .withColumn("cum_tokens", F.sum("ntok").over(w_doc))
              .withColumn("cum_vocab", F.sum("nv").over(w_doc)))
    heaps_pts = (growth.where(F.col("doc_id") % 5 == 0)
                 .select(F.round(F.log(F.col("cum_tokens")
                                       .cast("double")) * micro)
                          .cast("long").alias("xm"),
                         F.round(F.log(F.col("cum_vocab")
                                       .cast("double")) * micro)
                          .cast("long").alias("ym")))
    heaps = ols(heaps_pts, F.col("xm"), F.col("ym"),
                ["heaps_points", "heaps_beta_micro", "heaps_r2_micro"])

    totals = stats.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("cnt").cast("long").alias("n_tokens"))
    return totals.crossJoin(zipf).crossJoin(heaps)


register(
    "zipf_heaps_fit",
    _zipf_heaps_fit,
    f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents),
stats AS (
  SELECT term, COUNT(*) AS cnt, MIN(doc_id) AS first_doc
  FROM toks GROUP BY term),
zp AS (
  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1000000.0) AS HUGEINT)
           AS x,
         CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS HUGEINT)
           AS y
  FROM (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank
        FROM stats)
  WHERE rank <= {_ZIPF_TOP}),
zs AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy FROM zp),
growth AS (
  SELECT p.doc_id,
         SUM(p.ntok) OVER (ORDER BY p.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens,
         SUM(COALESCE(v.nv, 0)) OVER (ORDER BY p.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_vocab
  FROM (SELECT doc_id, COUNT(*) AS ntok FROM toks GROUP BY doc_id) p
  LEFT JOIN (SELECT first_doc, COUNT(*) AS nv FROM stats
             GROUP BY first_doc) v ON v.first_doc = p.doc_id),
hp AS (
  SELECT CAST(ROUND(ln(CAST(cum_tokens AS DOUBLE)) * 1000000.0)
              AS HUGEINT) AS x,
         CAST(ROUND(ln(CAST(cum_vocab AS DOUBLE)) * 1000000.0)
              AS HUGEINT) AS y
  FROM growth WHERE doc_id % 5 = 0),
hs AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy FROM hp),
tot AS (
  SELECT COUNT(*) AS n_terms, CAST(SUM(cnt) AS BIGINT) AS n_tokens
  FROM stats)
SELECT tot.n_terms, tot.n_tokens,
  zs.n AS zipf_points,
  CAST(ROUND((CAST(zs.n AS DOUBLE) * CAST(zs.sxy AS DOUBLE)
              - CAST(zs.sx AS DOUBLE) * CAST(zs.sy AS DOUBLE))
             / (CAST(zs.n AS DOUBLE) * CAST(zs.sxx AS DOUBLE)
                - CAST(zs.sx AS DOUBLE) * CAST(zs.sx AS DOUBLE))
             * 1000000.0) AS BIGINT) AS zipf_slope_micro,
  CAST(ROUND(POW(CAST(zs.n AS DOUBLE) * CAST(zs.sxy AS DOUBLE)
                 - CAST(zs.sx AS DOUBLE) * CAST(zs.sy AS DOUBLE), 2)
             / ((CAST(zs.n AS DOUBLE) * CAST(zs.sxx AS DOUBLE)
                 - CAST(zs.sx AS DOUBLE) * CAST(zs.sx AS DOUBLE))
                * (CAST(zs.n AS DOUBLE) * CAST(zs.syy AS DOUBLE)
                   - CAST(zs.sy AS DOUBLE) * CAST(zs.sy AS DOUBLE)))
             * 1000000.0) AS BIGINT) AS zipf_r2_micro,
  hs.n AS heaps_points,
  CAST(ROUND((CAST(hs.n AS DOUBLE) * CAST(hs.sxy AS DOUBLE)
              - CAST(hs.sx AS DOUBLE) * CAST(hs.sy AS DOUBLE))
             / (CAST(hs.n AS DOUBLE) * CAST(hs.sxx AS DOUBLE)
                - CAST(hs.sx AS DOUBLE) * CAST(hs.sx AS DOUBLE))
             * 1000000.0) AS BIGINT) AS heaps_beta_micro,
  CAST(ROUND(POW(CAST(hs.n AS DOUBLE) * CAST(hs.sxy AS DOUBLE)
                 - CAST(hs.sx AS DOUBLE) * CAST(hs.sy AS DOUBLE), 2)
             / ((CAST(hs.n AS DOUBLE) * CAST(hs.sxx AS DOUBLE)
                 - CAST(hs.sx AS DOUBLE) * CAST(hs.sx AS DOUBLE))
                * (CAST(hs.n AS DOUBLE) * CAST(hs.syy AS DOUBLE)
                   - CAST(hs.sy AS DOUBLE) * CAST(hs.sy AS DOUBLE)))
             * 1000000.0) AS BIGINT) AS heaps_r2_micro
FROM tot, zs, hs
""",
    doc="Zipf rank-frequency and Heaps vocabulary-growth exponents: "
        "micro-quantized ln values with exact decimal/HUGEINT OLS "
        "moments; only the final slope and r-squared divisions are "
        "floating point.",
)


# ---------------------------------------------------------------------------
# misra_gries_heavy_hitters (round 11): the deterministic mergeable
# heavy-hitters summary (Misra-Gries 1982; mergeability per Agarwal et
# al. 2013) next to the randomized CMS: each partition keeps k-1
# counters with k-way cancellation, summaries merge with the rank-k
# subtraction, and the theorem guarantees every item with frequency
# > N/k SURVIVES any merge with estimate in [true - N/k, true]. The
# query publishes exactly the theorem-backed facts for the TRUE heavy
# hitters (exact recount join): presence and the integer-exact error
# bound — which is what makes the output partition-INDEPENDENT even
# though the sketch itself depends on the partitioning. Scale: one
# mapInPandas pass + a (k-1)×partitions-bounded merge.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

_MG_K = 64


def _misra_gries_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.sketches import (misra_gries_merge,
                                     misra_gries_partition)

    d = _t(spark, sf, "documents").select("doc_id", "text")
    toks = d.select(F.explode(F.split(F.trim("text"), r"\s+"))
                    .alias("term"))
    sketch = misra_gries_merge(
        misra_gries_partition(toks, "term", _MG_K), _MG_K)
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = exact.agg(F.sum("cnt").cast("long").alias("n_total"))
    heavy = (exact.crossJoin(F.broadcast(total))
             .where(F.col("cnt") * _MG_K > F.col("n_total")))
    joined = (heavy.join(sketch.withColumnRenamed("item", "term"),
                         "term", "left"))
    return (joined.select(
        "term", "cnt", "n_total",
        F.col("mg_count").isNotNull().alias("in_sketch"),
        ((F.col("mg_count") <= F.col("cnt"))
         & (F.col("mg_count") * _MG_K
            >= F.col("cnt") * _MG_K - F.col("n_total")))
         .alias("within_bound"))
        .transform(_sorted1, "term"))


register(
    "misra_gries_heavy_hitters",
    _misra_gries_heavy_hitters,
    f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents),
exact AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM exact)
SELECT term, cnt, n_total,
       TRUE AS in_sketch,
       TRUE AS within_bound
FROM exact, tot
WHERE cnt * {_MG_K} > n_total
ORDER BY term
""",
    doc="Misra-Gries deterministic heavy hitters: partition summaries "
        "with k-way cancellation merged via rank-k subtraction; the "
        "query publishes the theorem-backed facts (presence + integer "
        "error bound) for the exact heavy hitters, making the output "
        "partition-independent.",
)


# ---------------------------------------------------------------------------
# aes_gcm_envelope_roundtrip (round 11): client-side envelope encryption
# for data at rest — per-document data keys derived with
# PBKDF2-HMAC-SHA256 (hashlib), payloads sealed with AES-GCM
# (``cryptography``'s AESGCM, OpenSSL) and opened again with
# authentication REQUIRED: the row also proves a flipped ciphertext byte
# is refused (InvalidTag), so the tamper check itself is inside the
# value hash. Interop: javax.crypto opens the sealed bytes and seals
# bit-identical ones on the same inputs (tests/test_aesgcm.py). Scale:
# mapInPandas, partition-local crypto — the decrypt-only-what-you-scan
# shape. Registered BEHIND the r11 window.
# ---------------------------------------------------------------------------

_ENVELOPE_MASTER = b"corpus-master-key"


def _envelope_seal(did: int, raw: bytes) -> tuple[bytes, bytes, bytes, bytes]:
    """Seal one document: ``(key, iv, aad, ct || tag)``. The data key is
    PBKDF2-HMAC-SHA256 of the master key over the 8-byte big-endian doc
    id (3 iterations, 16 bytes), the 96-bit IV the head of SHA-256 over
    ``b"iv" + salt``, the AAD ``doc:<id>``."""
    import hashlib

    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    salt = did.to_bytes(8, "big")
    key = hashlib.pbkdf2_hmac("sha256", _ENVELOPE_MASTER, salt, 3, 16)
    iv = hashlib.sha256(b"iv" + salt).digest()[:12]
    aad = f"doc:{did}".encode()
    return key, iv, aad, AESGCM(key).encrypt(iv, raw, aad)


def _envelope_seal_open(it):
    """Partition function of ``aes_gcm_envelope_roundtrip``: seal each
    document, open it with authentication required, and try a copy with
    its first ciphertext byte flipped."""
    import hashlib

    import pandas as pd
    from cryptography.exceptions import InvalidTag
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    def refused(key, iv, aad, sealed):
        try:
            AESGCM(key).decrypt(iv, bytes([sealed[0] ^ 1]) + sealed[1:],
                                aad)
        except InvalidTag:
            return True
        return False

    for pdf in it:
        dids = [int(x) for x in pdf["doc_id"].astype("int64")]
        raws = [t.encode("utf-8") for t in pdf["text"]]
        sealed = [_envelope_seal(did, raw) for did, raw in zip(dids, raws)]
        backs = [AESGCM(key).decrypt(iv, ct, aad)
                 for key, iv, aad, ct in sealed]
        yield pd.DataFrame({
            "doc_id": dids,
            "ct_len": [len(s[3]) - 16 for s in sealed],
            "content_md5": [hashlib.md5(b).hexdigest() for b in backs],
            "auth_ok": [b == raw for b, raw in zip(backs, raws)],
            # an empty ciphertext has no byte to tamper with
            "tamper_refused": [not raw or refused(*s)
                               for raw, s in zip(raws, sealed)],
        })


def _aes_gcm_envelope_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").select("doc_id", "text")
    src = d.repartition(spark.sparkContext.defaultParallelism)
    return _sorted1(
        src.mapInPandas(_envelope_seal_open,
                        "doc_id long, ct_len long,"
                        " content_md5 string, auth_ok boolean,"
                        " tamper_refused boolean"),
        "doc_id")


register(
    "aes_gcm_envelope_roundtrip",
    _aes_gcm_envelope_roundtrip,
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS ct_len,
       md5(text) AS content_md5,
       TRUE AS auth_ok,
       TRUE AS tamper_refused
FROM documents ORDER BY doc_id
""",
    doc="Envelope encryption for data at rest: PBKDF2-derived per-doc "
        "keys (hashlib), AES-GCM seal/open with authentication "
        "(cryptography), and an in-row tamper-refusal proof; "
        "javax.crypto is bit-identical on the same inputs.",
)


# ---------------------------------------------------------------------------
# soundex_blocking_census (round 11): phonetic blocking for the
# record-linkage family (next to fellegi_sunter_weights /
# golden_record_merge / string_distance_suite) — American Soundex
# (NARA rules, classic vectors verified) over the leading word of
# part names, as a PURE Column expression (JVM codegen, no UDF; the
# run-collapse is spelled per digit so the identical pipeline is
# RE2-safe in the oracle). Census per code: block size, distinct
# words, the lexicographic extremes — exactly the block-cardinality
# audit a linkage pass runs before generating candidate pairs.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _soundex_blocking_census(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import soundex_col

    p = _t(spark, sf, "part").select("p_name")
    words = p.select(F.regexp_extract(F.upper("p_name"), "^[A-Z]+", 0)
                     .alias("word")).where(F.col("word") != "")
    return (words.withColumn("sdx", soundex_col(F.col("word")))
            .groupBy("sdx")
            .agg(F.count(F.lit(1)).alias("block_size"),
                 F.countDistinct("word").alias("n_words"),
                 F.min("word").alias("first_word"),
                 F.max("word").alias("last_word"))
            .transform(_sorted1, "sdx"))


register(
    "soundex_blocking_census",
    _soundex_blocking_census,
    """
WITH w AS (SELECT regexp_extract(upper(p_name), '^[A-Z]+') AS word
           FROM part),
f AS (SELECT word FROM w WHERE word <> ''),
s AS (SELECT word, substr(word, 1, 1) AS first,
        translate(substr(word, 2), 'HW', '') AS t1
      FROM f),
c AS (SELECT word, first,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(
          translate(t1, 'BFPVCGJKQSXZDTLMNRAEIOUY',
                        '111122222222334556000000'),
          '1+', '1', 'g'), '2+', '2', 'g'), '3+', '3', 'g'),
          '4+', '4', 'g'), '5+', '5', 'g'), '6+', '6', 'g')
          AS collapsed,
        translate(first, 'BFPVCGJKQSXZDTLMNRAEIOUYHW',
                         '11112222222233455600000000') AS fcode
      FROM s),
e AS (SELECT word, first,
        replace(CASE WHEN substr(collapsed, 1, 1) = fcode
                     THEN substr(collapsed, 2) ELSE collapsed END,
                '0', '') AS digits
      FROM c),
sdx AS (SELECT word, first || substr(digits || '000', 1, 3) AS sdx
        FROM e)
SELECT sdx, COUNT(*) AS block_size,
       COUNT(DISTINCT word) AS n_words,
       MIN(word) AS first_word, MAX(word) AS last_word
FROM sdx GROUP BY sdx ORDER BY sdx
""",
    doc="American Soundex phonetic blocking census over part-name "
        "leading words: identical NARA-rule pipelines as Spark Column "
        "codegen and RE2-safe SQL; classic vectors verified in tests.",
)


# ---------------------------------------------------------------------------
# arrow_ipc_scratch_read (round 11): the engine's INTERCHANGE format
# written and read per shard executor-side — pyarrow writes one IPC
# stream per shard in 64-row batches and reads every row back with
# ``pyarrow.ipc.open_stream(...).read_all()``, nulls included (every
# 7th n_chars is written null and must come back null, exercising
# validity bitmaps on the driver-checked path). Since the reader is
# pyarrow too, this repeats arrow_ipc_roundtrip's pyarrow→pyarrow
# path shard by shard. Oracle recomputes all published values from
# the parquet originals. Scale: _spread-partitioned applyInPandas
# shards, decode partition-local.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _arrow_ipc_build_and_read(pdf):
    """One shard: write ``pdf`` (doc_id, text, n_chars, lang) as an
    Arrow IPC stream of 64-row batches with every 7th doc_id's n_chars
    null, read the stream back and publish one row per document."""
    import hashlib
    import io as _io

    import pandas as pd
    import pyarrow as pa
    import pyarrow.ipc as ipc

    src = sorted(zip(pdf["doc_id"].astype("int64"), pdf["text"],
                     pdf["n_chars"].astype("int64"), pdf["lang"]))
    table = pa.table({
        "doc_id": pa.array([int(i) for i, _, _, _ in src],
                           type=pa.int64()),
        "text": pa.array([t for _, t, _, _ in src], type=pa.string()),
        "n_chars": pa.array([None if i % 7 == 0 else int(n)
                             for i, _, n, _ in src], type=pa.int64()),
        "lang": pa.array([lg for _, _, _, lg in src], type=pa.string()),
    })
    buf = _io.BytesIO()
    with ipc.new_stream(buf, table.schema) as w:
        w.write_table(table, max_chunksize=64)
    got = ipc.open_stream(buf.getvalue()).read_all()
    assert got.column_names == ["doc_id", "text", "n_chars", "lang"]
    return pd.DataFrame({
        "doc_id": got["doc_id"].to_pylist(),
        "text_md5": [hashlib.md5(t.encode("utf-8")).hexdigest()
                     for t in got["text"].to_pylist()],
        "n_chars_or_null": pd.array(got["n_chars"].to_pylist(),
                                    dtype="Int64"),
        "lang": got["lang"].to_pylist(),
    })


def _arrow_ipc_scratch_read(spark: SparkSession, sf: str) -> DataFrame:
    d = (_t(spark, sf, "documents")
         .select("doc_id", "text", "n_chars", "lang")
         .withColumn("shard", (F.col("doc_id") % 16).cast("long")))
    return (_spread(d, "shard", 16).groupBy("shard")
            .applyInPandas(_arrow_ipc_build_and_read,
                           "doc_id long, text_md5 string,"
                           " n_chars_or_null long, lang string")
            .transform(_sorted1, "doc_id"))


register(
    "arrow_ipc_scratch_read",
    _arrow_ipc_scratch_read,
    """
SELECT doc_id,
       md5(text) AS text_md5,
       CASE WHEN doc_id % 7 = 0 THEN NULL
            ELSE n_chars END AS n_chars_or_null,
       lang
FROM documents ORDER BY doc_id
""",
    doc="Arrow IPC stream write and read on the driver-checked path: "
        "pyarrow writes per-shard streams (64-row batches, every 7th "
        "n_chars null) and reads them back with ipc.open_stream; all "
        "values pinned against the parquet originals.",
)


# ---------------------------------------------------------------------------
# spearman_rank_corr (round 11): rank correlation between order value
# and the customer's account balance, per market segment — the robust
# complement to the exact-Pearson family (discount_price_corr).
# Exactness: average ranks are kept INTEGER by doubling them
# (2·avg_rank = rank_min + rank_max, tie-safe), every moment is an
# exact DECIMAL/HUGEINT sum of integer products, and only the final
# rho division is floating point — identical in both engines, then
# micro-quantized. Scale: one join, two segment-partitioned windows,
# one aggregation.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _spearman_rank_corr(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment",
                                         "c_acctbal")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_totalprice", "c_acctbal")

    def ranks2(col_name: str, out: str):
        # 2*average-rank as an integer: rank() gives the MIN rank of a
        # tie group, and the cumulative count over the SAME ordered
        # window (default RANGE frame, which includes ties) gives the
        # MAX rank — so min + max needs one window spec per column,
        # not two. The r11 form added a count over (segment, value),
        # whose required clustering planned a second exchange per
        # column (4 total); sharing the ordered spec reuses the
        # segment exchange + sort (measured 1.52 s → 1.19 s for the
        # ranking stage, values identical row-for-row).
        w = Window.partitionBy("c_mktsegment").orderBy(F.col(col_name))
        return (F.rank().over(w) + F.count(F.lit(1)).over(w)).alias(out)

    ranked = j.select("c_mktsegment",
                      ranks2("o_totalprice", "rx"),
                      ranks2("c_acctbal", "ry"))

    def dec(c_):
        return c_.cast("decimal(38,0)")

    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("rx"))).alias("sx"),
        F.sum(dec(F.col("ry"))).alias("sy"),
        F.sum(dec(F.col("rx")) * dec(F.col("ry"))).alias("sxy"),
        F.sum(dec(F.col("rx")) * dec(F.col("rx"))).alias("sxx"),
        F.sum(dec(F.col("ry")) * dec(F.col("ry"))).alias("syy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    rho = ((n * sxy - sx * sy)
           / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
    return (agg.select("c_mktsegment", "n",
                       F.round(rho * 1000000.0).cast("long")
                        .alias("rho_micro"))
            .transform(_sorted1, "c_mktsegment"))


register(
    "spearman_rank_corr",
    _spearman_rank_corr,
    """
WITH j AS (
  SELECT c.c_mktsegment, o.o_totalprice, c.c_acctbal
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
r AS (
  SELECT c_mktsegment,
         CAST(RANK() OVER (PARTITION BY c_mktsegment
                           ORDER BY o_totalprice) * 2
              + COUNT(*) OVER (PARTITION BY c_mktsegment, o_totalprice)
              - 1 AS HUGEINT) AS rx,
         CAST(RANK() OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal) * 2
              + COUNT(*) OVER (PARTITION BY c_mktsegment, c_acctbal)
              - 1 AS HUGEINT) AS ry
  FROM j)
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(ROUND((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(rx*ry) AS DOUBLE)
                   - CAST(SUM(rx) AS DOUBLE) * CAST(SUM(ry) AS DOUBLE))
                  / SQRT((CAST(COUNT(*) AS DOUBLE)
                          * CAST(SUM(rx*rx) AS DOUBLE)
                          - CAST(SUM(rx) AS DOUBLE)
                            * CAST(SUM(rx) AS DOUBLE))
                         * (CAST(COUNT(*) AS DOUBLE)
                            * CAST(SUM(ry*ry) AS DOUBLE)
                            - CAST(SUM(ry) AS DOUBLE)
                              * CAST(SUM(ry) AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS rho_micro
FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    doc="Spearman rank correlation per segment with tie-safe integer "
        "doubled ranks and exact decimal/HUGEINT moments; only the "
        "final rho division is floating point.",
)
