"""Hybrid-retrieval queries: dense ANN + sparse inverted-index rankings
fused with Reciprocal Rank Fusion, over the shared doc_id/vec_id space
(documents and their embeddings carry the same ids).

Beyond-reference surface. Every score is either integer (overlap
counts, ranks) or a fixed-order double expression both engines round
identically (the cosine fold, ``1/(k0+rank)`` sums), so the full fused
ranking is oracle-pinned, not just spot-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.retrieval import rrf_fuse, sparse_overlap_topk
from .operators.similarity import cosine_topk
from .queries_scale_common import _DUCK_TOKENS, _duck_dot
from .registry import register
from .sources.tables import table as _t


# ---------------------------------------------------------------------------
# rrf_hybrid_retrieval: for 5 probe documents, fuse the dense cosine
# top-20 (their embeddings vs the corpus) with the sparse shingle-overlap
# top-20 (inverted-index join over word BIGRAMS, df-pruned posting
# lists) via RRF and keep the fused top-10. The classic hybrid-search
# layout: neither scorer's scale matters, only its ranks, so no
# calibration step. Bigram shingles, not unigrams: the synthetic corpus
# draws from a ~31-word vocabulary, so every unigram is a stopword
# (median df = 78% of docs — the df prune correctly removes all of
# them and the sparse list is empty); the ~960-point bigram space has
# df around 10% of the corpus, which is exactly the discriminative
# band the prune keeps.
# ---------------------------------------------------------------------------

_RRF_PROBES = [0, 1, 2, 3, 4]
_RRF_LIST_K = 20   # per-scorer candidate list depth
_RRF_K0 = 60       # RRF constant (Cormack et al. 2009)
_RRF_TOPK = 10     # fused list depth


def _rrf_hybrid(spark: SparkSession, sf: str) -> DataFrame:
    dense = cosine_topk(_t(spark, sf, "embeddings"), _RRF_PROBES,
                        k=_RRF_LIST_K).select("query_id", "neighbor_id",
                                              "rank")
    sparse = sparse_overlap_topk(_t(spark, sf, "documents"), _RRF_PROBES,
                                 k=_RRF_LIST_K, ngram=2)
    fused = rrf_fuse(dense, sparse, k0=_RRF_K0, topk=_RRF_TOPK)
    return fused.select("query_id", "neighbor_id",
                        F.col("rank_a").alias("dense_rank"),
                        F.col("rank_b").alias("sparse_rank"),
                        "rrf_score", "fused_rank")


_RRF_IDS = ", ".join(map(str, _RRF_PROBES))

register(
    "rrf_hybrid_retrieval",
    _rrf_hybrid,
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id IN ({_RRF_IDS})),
dscored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_duck_dot('q.qv', 'e.embedding')}
           / (sqrt({_duck_dot('q.qv', 'q.qv')})
              * sqrt({_duck_dot('e.embedding', 'e.embedding')})) AS cosine
  FROM q, embeddings e WHERE e.vec_id != q.query_id),
dense AS (
  SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS rn FROM dscored)
  WHERE rn <= {_RRF_LIST_K}),
toks AS (SELECT DISTINCT doc_id AS did, term
         FROM (SELECT doc_id,
                      unnest(list_transform(range(1, len(tk)),
                             i -> tk[i] || ' ' || tk[i + 1])) AS term
               FROM (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents))),
kept AS (SELECT term FROM toks GROUP BY term
         HAVING COUNT(*) * 10 <= (SELECT COUNT(*) FROM documents)),
pr AS (SELECT t.did, t.term FROM toks t JOIN kept USING (term)),
probes AS (SELECT did AS query_id, term FROM pr
           WHERE did IN ({_RRF_IDS})),
sscored AS (
  SELECT p.query_id, c.did AS neighbor_id, CAST(COUNT(*) AS INT) AS overlap
  FROM pr c JOIN probes p USING (term)
  WHERE c.did != p.query_id GROUP BY 1, 2),
sparse AS (
  SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY overlap DESC, neighbor_id) AS rn FROM sscored)
  WHERE rn <= {_RRF_LIST_K}),
fused AS (
  SELECT query_id, neighbor_id, d.rank AS dense_rank, s.rank AS sparse_rank,
         COALESCE(1.0 / CAST({_RRF_K0} + d.rank AS DOUBLE), 0.0)
         + COALESCE(1.0 / CAST({_RRF_K0} + s.rank AS DOUBLE), 0.0)
           AS rrf_score
  FROM dense d FULL JOIN sparse s USING (query_id, neighbor_id))
SELECT query_id, neighbor_id, dense_rank, sparse_rank, rrf_score,
       CAST(fr AS INT) AS fused_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rrf_score DESC, neighbor_id) AS fr FROM fused)
WHERE fr <= {_RRF_TOPK}
ORDER BY query_id, fused_rank
""",
    doc="Hybrid search: dense cosine top-20 + sparse df-pruned "
        "bigram-shingle inverted-index overlap top-20, fused with RRF "
        "(k0=60), fused top-10 per probe — rank arithmetic end-to-end, "
        "fully oracle-pinned.",
)


# ---------------------------------------------------------------------------
# contrastive_negative_samples: k deterministic cross-source negatives
# per anchor via bucketed hash draws (operators.retrieval
# .negative_samples). The representative table is <= n_buckets*|sources|
# rows and broadcast — the anchor side never shuffles.
# ---------------------------------------------------------------------------

_NEG_B, _NEG_K = 64, 2
_NEG_H = "('0x' || substr(md5({s}), 1, 12))::BIGINT"


def _negative_samples_q(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.retrieval import negative_samples
    return negative_samples(_t(spark, sf, "documents"),
                            n_buckets=_NEG_B, k=_NEG_K)


_NEG_PROBE_B = _NEG_H.format(
    s="'nb:' || CAST(j.j AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")

register(
    "contrastive_negative_samples",
    _negative_samples_q,
    f"""
WITH c AS (
  SELECT doc_id AS cand_id, source AS cand_strat,
         {_NEG_H.format(s="'nc:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents),
cb AS (SELECT cand_id, cand_strat, h % {_NEG_B} AS bucket,
              h // {_NEG_B} AS ord FROM c),
pbs AS (
  SELECT bucket, cand_strat, ord, cand_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket, cand_strat
                  ORDER BY ord, cand_id) AS rn FROM cb)
  WHERE rn = 1),
m1 AS (
  SELECT bucket, cand_id AS m1_id, cand_strat AS m1_strat
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
                  ORDER BY ord, cand_id) AS rn FROM pbs)
  WHERE rn = 1),
m2 AS (
  SELECT bucket, cand_id AS m2_id, cand_strat AS m2_strat
  FROM (SELECT p.*, ROW_NUMBER() OVER (PARTITION BY p.bucket
                    ORDER BY p.ord, p.cand_id) AS rn
        FROM pbs p JOIN m1 USING (bucket)
        WHERE p.cand_strat != m1.m1_strat)
  WHERE rn = 1),
pr AS (
  SELECT d.doc_id AS anchor_id, d.source AS anchor_strat,
         CAST(j.j AS INT) AS j, ({_NEG_PROBE_B}) % {_NEG_B} AS bucket
  FROM documents d, (SELECT 0 AS j UNION ALL SELECT 1) j)
SELECT anchor_id, anchor_strat, j,
       CASE WHEN m1_strat = anchor_strat THEN m2_id ELSE m1_id END AS neg_id,
       CASE WHEN m1_strat = anchor_strat THEN m2_strat ELSE m1_strat END
         AS neg_strat,
       COALESCE(m1_strat = anchor_strat, FALSE) AS used_fallback
FROM pr LEFT JOIN m1 USING (bucket) LEFT JOIN m2 USING (bucket)
ORDER BY anchor_id, j
""",
    doc="Deterministic cross-source negative sampling for contrastive "
        "pairs: hash-bucketed candidates, per-bucket source-diverse "
        "minima broadcast to every anchor; NULL draws reported, never "
        "dropped.",
)


# ---------------------------------------------------------------------------
# bm25_topk (r11): the canonical Okapi BM25 sparse ranking (Robertson &
# Zaragoza 2009; Lucene's non-negative idf variant) over word-bigram
# terms, top-10 per probe document. Same engine-exactness discipline as
# rrf_hybrid_retrieval: every constant subexpression is written
# IDENTICALLY on both sides (1.2 + 1.0, not 2.2 — the two doubles
# differ), avgdl is a ratio of exact integer sums, the per-pair
# float sum folds in lexicographic term order, and the published score
# is micro-quantized to an integer (ln is libm territory — a measured
# 1-ulp JVM/DuckDB divergence motivates the quantum; see the operator
# docstring). Scale shape: broadcast stop-list prune +
# broadcast probe terms; the corpus never shuffles on term (see
# operators.retrieval.bm25_topk). Registered BEHIND the r11 window
# (registration-pause discipline).
# ---------------------------------------------------------------------------

def _bm25(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.retrieval import bm25_topk
    return bm25_topk(_t(spark, sf, "documents"), _RRF_PROBES, k=10)


register(
    "bm25_topk",
    _bm25,
    f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
toks AS (SELECT doc_id AS did,
                unnest(list_transform(range(1, len(tk)),
                       i -> tk[i] || ' ' || tk[i + 1])) AS term
         FROM base),
tfreq AS (SELECT did, term, CAST(COUNT(*) AS INT) AS tf
          FROM toks GROUP BY 1, 2),
dls AS (SELECT doc_id AS did, len(tk) - 1 AS dl FROM base
        WHERE len(tk) - 1 >= 1),
stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS avgdl,
                 (SELECT COUNT(*) FROM documents) AS n_docs
          FROM dls),
dfs AS (SELECT term, COUNT(*) AS df FROM tfreq GROUP BY term),
pruned AS (SELECT t.did, t.term, t.tf, d.df
           FROM tfreq t JOIN dfs d USING (term)
           WHERE d.df * 10 <= (SELECT COUNT(*) FROM documents)),
probes AS (SELECT DISTINCT did AS query_id, term FROM toks
           WHERE did IN ({_RRF_IDS})),
scored AS (
  SELECT p.query_id, c.did AS neighbor_id, c.term,
         ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(c.df AS DOUBLE) + 0.5)
                  / (CAST(c.df AS DOUBLE) + 0.5))
         * (CAST(c.tf AS DOUBLE) * (1.2 + 1.0)
            / (CAST(c.tf AS DOUBLE)
               + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl)))
           AS contrib
  FROM pruned c JOIN probes p USING (term)
       JOIN dls l ON l.did = c.did, stats s
  WHERE c.did != p.query_id),
folded AS (
  SELECT query_id, neighbor_id,
         CAST(ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                             list(contrib ORDER BY term)),
                                (x, y) -> x + y) * 1000000.0)
              AS BIGINT) AS bm25_micro
  FROM scored GROUP BY 1, 2)
SELECT query_id, neighbor_id, bm25_micro, CAST(rn AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY bm25_micro DESC, neighbor_id) AS rn FROM folded)
WHERE rn <= 10
ORDER BY query_id, rank
""",
    doc="Okapi BM25 top-10 per probe over word-bigram terms: "
        "Lucene-style idf, exact-integer avgdl, order-pinned float "
        "fold — the full ranking is oracle-exact, and the posting "
        "join is stop-list-pruned and probe-broadcast.",
)


# ---------------------------------------------------------------------------
# bitext_mining_pairs (r11): margin-based bitext mining (Artetxe &
# Schwenk 2019 — the LASER/CCMatrix ratio criterion) between the en and
# es document sides, candidates from a shared LSH sign-bucket join
# (never all-pairs; per-side degenerate-bucket cap, mirrored in the
# oracle like every capped-LSH query). Margins normalize each anchor by
# its own candidate-neighborhood density; published scores are
# micro-quantized with rank-ordered float folds, so the pair set is
# oracle-exact. Registered BEHIND the r11 window.
# ---------------------------------------------------------------------------

_BITEXT_PLANES = 6
_BITEXT_CAP = 256
_BITEXT_K = 4


def _bitext(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import bitext_margin_pairs
    return bitext_margin_pairs(_t(spark, sf, "documents"),
                               _t(spark, sf, "embeddings"), "en", "es",
                               k_margin=_BITEXT_K, margin_threshold=1.05,
                               n_planes=_BITEXT_PLANES,
                               max_bucket_size=_BITEXT_CAP)


from .operators.similarity import duck_lsh_bucket_expr as _dlbe  # noqa: E402

_BITEXT_BUCKET = _dlbe("e.embedding", _BITEXT_PLANES)

register(
    "bitext_mining_pairs",
    _bitext,
    f"""
WITH sa AS (SELECT e.vec_id AS id_a, e.embedding AS v_a,
                   sqrt({_duck_dot('e.embedding', 'e.embedding')}) AS n_a,
                   {_BITEXT_BUCKET} AS bucket
            FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
            WHERE d.lang = 'en'),
sb AS (SELECT e.vec_id AS id_b, e.embedding AS v_b,
              sqrt({_duck_dot('e.embedding', 'e.embedding')}) AS n_b,
              {_BITEXT_BUCKET} AS bucket
       FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
       WHERE d.lang = 'es'),
ka AS (SELECT bucket FROM sa GROUP BY bucket
       HAVING COUNT(*) <= {_BITEXT_CAP}),
kb AS (SELECT bucket FROM sb GROUP BY bucket
       HAVING COUNT(*) <= {_BITEXT_CAP}),
cand AS (
  SELECT DISTINCT id_a, id_b,
         {_duck_dot('v_a', 'v_b')} / (n_a * n_b) AS cosine
  FROM sa JOIN ka USING (bucket) JOIN sb USING (bucket)
       JOIN kb ON kb.bucket = sb.bucket),
ra AS (SELECT id_a, cosine,
              ROW_NUMBER() OVER (PARTITION BY id_a
                ORDER BY cosine DESC, id_b) AS rn FROM cand),
ma AS (SELECT id_a,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                       list(cosine ORDER BY rn)),
                          (x, y) -> x + y)
                / CAST(COUNT(*) AS DOUBLE) AS mean_a
       FROM ra WHERE rn <= {_BITEXT_K} GROUP BY id_a),
rb AS (SELECT id_b, cosine,
              ROW_NUMBER() OVER (PARTITION BY id_b
                ORDER BY cosine DESC, id_a) AS rn FROM cand),
mb AS (SELECT id_b,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                       list(cosine ORDER BY rn)),
                          (x, y) -> x + y)
                / CAST(COUNT(*) AS DOUBLE) AS mean_b
       FROM rb WHERE rn <= {_BITEXT_K} GROUP BY id_b),
scored AS (
  SELECT id_a, id_b,
         CAST(ROUND(cosine * 1000000.0) AS BIGINT) AS cosine_micro,
         CAST(ROUND(cosine / ((mean_a + mean_b) / 2.0) * 1000000.0)
              AS BIGINT) AS margin_micro
  FROM cand JOIN ma USING (id_a) JOIN mb USING (id_b))
SELECT id_a, id_b, cosine_micro, margin_micro
FROM scored WHERE margin_micro >= 1050000
ORDER BY id_a, id_b
""",
    doc="Margin-based bitext mining between the en/es sides: LSH "
        "sign-bucket candidates (per-side cap), ratio margin over "
        "rank-ordered top-k candidate means, micro-quantized scores "
        "— the mined pair set is oracle-exact.",
)
