"""Scale-family queries, part file: dedup, MinHash/SimHash/embedding similarity, text analysis, event-time windows, temporal joins, multimodal plumbing, curation pipelines (registrations 1-~70 of the scale family).

Split from queries_scale.py at registration boundaries — see
queries_scale_common.py for why the split is positional.
"""

from .queries_scale_common import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

register(
    "dedup_exact",
    lambda spark, sf: exact_dedup(_t(spark, sf, "documents")),
    """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
       min(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
    doc="Exact dedup: md5 of canonicalized text, min-id survivor per group.",
)

register(
    "dedup_exact_survivors",
    lambda spark, sf: exact_dedup_survivors(_t(spark, sf, "documents")),
    """
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      ORDER BY doc_id ASC) AS rn
  FROM documents) t WHERE rn = 1
""",
    doc="The deduplicated corpus: full surviving rows (min-id per text hash).",
)

# ---------------------------------------------------------------------------
# MinHash signatures + LSH near-dup pipeline
# ---------------------------------------------------------------------------

def _sig_sql(n_perms: int = 8) -> str:
    from .operators.dedup_fuzzy import minhash_params
    return ", ".join(
        f"min(({a} * h + {b}) % {HASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(n_perms)))


def _band_fold(cols: list[str]) -> str:
    expr = "CAST(0 AS BIGINT)"
    for c in cols:
        expr = f"(({expr}) * 131 + {c}) % {HASH_P}"
    return expr


def _bands_sql(n_perms: int = 8, n_bands: int = 2, src: str = "sig") -> str:
    npb = n_perms // n_bands
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"{_band_fold([f'mh_{b * npb + j}' for j in range(npb)])} AS bh "
        f"FROM {src}"
        for b in range(n_bands))


_SIG_SQL = _sig_sql(8)
_BANDS_SQL = _bands_sql(8, 2)

register(
    "minhash_signatures",
    lambda spark, sf: minhash_signatures(_t(spark, sf, "documents")),
    f"""
WITH {_DUCK_HS}
SELECT doc_id, {_SIG_SQL} FROM hs GROUP BY doc_id
""",
    doc="8-permutation MinHash signatures over 3-token shingles.",
)

register(
    "minhash_dedup_pairs",
    lambda spark, sf: minhash_dedup_pairs(_t(spark, sf, "documents"), threshold=0.2),
    f"""
WITH {_DUCK_HS},
sig AS (SELECT doc_id, {_SIG_SQL} FROM hs GROUP BY doc_id),
bands AS ({_BANDS_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS c
  FROM pairs p
  JOIN hs ha ON ha.doc_id = p.doc_a
  JOIN hs hb ON hb.doc_id = p.doc_b AND hb.h = ha.h
  GROUP BY 1, 2)
SELECT c.doc_a, c.doc_b, c.c / (sa.n + sb.n - c.c) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE c.c / (sa.n + sb.n - c.c) >= 0.2
ORDER BY doc_a, doc_b
""",
    doc="MinHash+LSH: shingle → sign → band-bucket join → Jaccard verify.",
)

register(
    "minhash_dedup_pairs_prod",
    lambda spark, sf: minhash_dedup_pairs(_t(spark, sf, "documents"),
                                          threshold=0.2, n_perms=128,
                                          n_bands=16),
    f"""
WITH {_DUCK_HS},
sig AS (SELECT doc_id, {_sig_sql(128)} FROM hs GROUP BY doc_id),
bands AS ({_bands_sql(128, 16)}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS c
  FROM pairs p
  JOIN hs ha ON ha.doc_id = p.doc_a
  JOIN hs hb ON hb.doc_id = p.doc_b AND hb.h = ha.h
  GROUP BY 1, 2)
SELECT c.doc_a, c.doc_b, c.c / (sa.n + sb.n - c.c) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE c.c / (sa.n + sb.n - c.c) >= 0.2
ORDER BY doc_a, doc_b
""",
    doc="Production-shape MinHash+LSH (128 perms, 16 bands of 8): the real "
        "near-dup S-curve; identical plan to the toy config, wider agg row.",
)


# Degenerate-bucket guard exercised as a registered query: buckets above
# the cap are dropped before pair expansion (boilerplate-dominated
# corpora otherwise explode quadratically inside one bucket). Cap chosen
# at 2 so it provably engages on this corpus (the organic distribution
# has size-3 buckets); the oracle mirrors the cap with a HAVING filter.
register(
    "minhash_dedup_pairs_capped",
    lambda spark, sf: minhash_dedup_pairs(_t(spark, sf, "documents"),
                                          threshold=0.2, max_bucket_size=2),
    f"""
WITH {_DUCK_HS},
sig AS (SELECT doc_id, {_SIG_SQL} FROM hs GROUP BY doc_id),
bands AS ({_BANDS_SQL}),
ok AS (SELECT band, bh FROM bands GROUP BY band, bh
       HAVING COUNT(*) BETWEEN 2 AND 2),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN ok ON a.band = ok.band AND a.bh = ok.bh
  JOIN bands b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS c
  FROM pairs p
  JOIN hs ha ON ha.doc_id = p.doc_a
  JOIN hs hb ON hb.doc_id = p.doc_b AND hb.h = ha.h
  GROUP BY 1, 2)
SELECT c.doc_a, c.doc_b, c.c / (sa.n + sb.n - c.c) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE c.c / (sa.n + sb.n - c.c) >= 0.2
ORDER BY doc_a, doc_b
""",
    doc="MinHash+LSH with the max_bucket_size production guard engaged: "
        "degenerate buckets are dropped before bucket-local pair "
        "expansion; oracle mirrors the cap via HAVING.",
)


# ---------------------------------------------------------------------------
# Cross-corpus near-dup JOIN: the incremental-ingest primitive — dedup a
# new batch against the existing corpus (or decontaminate against a
# large curated set) with BOTH sides big: banded equi-join between the
# two sides' bucket frames, never a broadcast. Fixture split: even
# doc_ids are the "existing" corpus, odd the "incoming" batch.
# ---------------------------------------------------------------------------

def _cross_corpus(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup_fuzzy import minhash_join
    docs = _t(spark, sf, "documents")
    return minhash_join(docs.filter(F.col("doc_id") % 2 == 0),
                        docs.filter(F.col("doc_id") % 2 == 1),
                        threshold=0.2)


register(
    "cross_corpus_neardup",
    _cross_corpus,
    f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
shs AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM toks),
hs AS (SELECT DISTINCT doc_id, {_duck_md5_hash('s')} AS h FROM shs),
hl AS (SELECT * FROM hs WHERE doc_id % 2 = 0),
hr AS (SELECT * FROM hs WHERE doc_id % 2 = 1),
sl AS (SELECT doc_id, {_SIG_SQL} FROM hl GROUP BY doc_id),
sr AS (SELECT doc_id, {_SIG_SQL} FROM hr GROUP BY doc_id),
bl AS ({_bands_sql(8, 2, src="sl")}),
br AS ({_bands_sql(8, 2, src="sr")}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bl a JOIN br b ON a.band = b.band AND a.bh = b.bh),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS c
  FROM pairs p
  JOIN hl ha ON ha.doc_id = p.doc_a
  JOIN hr hb ON hb.doc_id = p.doc_b AND hb.h = ha.h
  GROUP BY 1, 2),
sza AS (SELECT doc_id, COUNT(*) AS n FROM hl GROUP BY doc_id),
szb AS (SELECT doc_id, COUNT(*) AS n FROM hr GROUP BY doc_id)
SELECT c.doc_a, c.doc_b, c.c / (sa.n + sb.n - c.c) AS jaccard
FROM common c
JOIN sza sa ON sa.doc_id = c.doc_a
JOIN szb sb ON sb.doc_id = c.doc_b
WHERE c.c / (sa.n + sb.n - c.c) >= 0.2
ORDER BY doc_a, doc_b
""",
    doc="Cross-corpus near-dup join (incremental ingest / decontam with "
        "two big sides): banded equi-join between per-side bucket "
        "frames, exact cross-side Jaccard verify.",
)


# ---------------------------------------------------------------------------
# LM-based quality signal (CCNet-style filtering) without the log:
# per-doc mean bigram probability under an add-1 bigram model. Every
# probability is one integer-count IEEE division and the per-doc mean is
# a position-ordered fold, so the value is bit-identical cross-engine.
# ---------------------------------------------------------------------------

def _lm_bigram(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import bigram_lm_scores
    return bigram_lm_scores(_t(spark, sf, "documents"))


register(
    "lm_bigram_quality",
    _lm_bigram,
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
      CROSS JOIN v)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                list(p ORDER BY pos)),
                   (a, b) -> a + b) / COUNT(*) AS mean_bigram_p
FROM p GROUP BY doc_id ORDER BY doc_id
""",
    doc="Bigram-LM quality signal (CCNet-style): add-1 smoothed mean "
        "bigram probability per doc — integer-count divisions and a "
        "position-ordered fold keep it exact cross-engine.",
)


# ---------------------------------------------------------------------------
# Near-dup clustering: LSH pairs → connected components → one cluster id
# per document (the step between pair generation and "keep one per
# cluster" in a real dedup run). Spark side is iterative hash-min label
# propagation (operators/graph.py); the oracle expresses the same closure
# with a recursive CTE — a full value-checked oracle for an iterative
# algorithm.
# ---------------------------------------------------------------------------

def _neardup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.graph import cluster_assignment
    docs = _t(spark, sf, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.2)
    return _sorted1(cluster_assignment(docs, pairs), "doc_id")


# Shared closure: LSH candidates → Jaccard verify → recursive transitive
# closure → cluster assignment over an arbitrary corpus CTE/table (used
# by neardup_clusters, neardup_survivors, and the composed prep
# pipeline, which runs it over the exact-deduped corpus).
def _neardup_assigned_from(src: str) -> str:
    # AS MATERIALIZED: DuckDB inlines CTEs by default, which would
    # re-derive the shingle/sign/verify chain on every recursion step of
    # the closure (216s -> seconds on the prep pipeline oracle).
    return f"""toks AS MATERIALIZED (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM {src}),
shs AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM toks),
hs AS MATERIALIZED (SELECT DISTINCT doc_id, {_duck_md5_hash('s')} AS h FROM shs),
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
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE c.c / (sa.n + sb.n - c.c) >= 0.2),
edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM verified
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM verified),
reach(u, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT reach.u, e.v FROM reach JOIN edges e ON reach.r = e.u),
comp AS (SELECT u AS node, LEAST(u, MIN(r)) AS cluster_id
         FROM reach GROUP BY u),
assigned AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM {src} d LEFT JOIN comp c ON c.node = d.doc_id)"""


_NEARDUP_CLOSURE_SQL = "WITH RECURSIVE " + _neardup_assigned_from("documents")


register(
    "neardup_clusters",
    _neardup_clusters,
    f"""{_NEARDUP_CLOSURE_SQL},
csizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
           FROM assigned GROUP BY 1)
SELECT a.doc_id, a.cluster_id, s.cluster_size
FROM assigned a JOIN csizes s ON s.cluster_id = a.cluster_id
ORDER BY a.doc_id
""",
    doc="Near-dup clustering: MinHash+LSH verified pairs → connected "
        "components (hash-min label propagation) → full-corpus cluster "
        "assignment with sizes; oracle is the same closure as a "
        "recursive CTE.",
)


def _cc_largestar(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.graph import cluster_assignment
    docs = _t(spark, sf, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.2)
    return cluster_assignment(docs, pairs, algo="star").transform(_sorted1, "doc_id")


register(
    "cc_largestar_equivalence",
    _cc_largestar,
    f"""{_NEARDUP_CLOSURE_SQL},
csizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
           FROM assigned GROUP BY 1)
SELECT a.doc_id, a.cluster_id, s.cluster_size
FROM assigned a JOIN csizes s ON s.cluster_id = a.cluster_id
ORDER BY a.doc_id
""",
    doc="Large-star/small-star connected components (Kiveris et al. "
        "2014) over the same verified near-dup graph, hash-checked "
        "against the identical recursive-closure oracle as the "
        "hash-min path — driver-level proof the two component gears "
        "agree; the star gear contracts adversarial long chains in "
        "O(log^2 n) rounds where hash-min needs diameter rounds "
        "(property-tested).",
)


def _neardup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.graph import cluster_assignment
    docs = _t(spark, sf, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.2)
    keepers = (cluster_assignment(docs, pairs)
               .filter(F.col("doc_id") == F.col("cluster_id"))
               .select("doc_id"))
    return docs.join(keepers, "doc_id").orderBy("doc_id")


register(
    "neardup_survivors",
    _neardup_survivors,
    f"""{_NEARDUP_CLOSURE_SQL}
SELECT d.* FROM documents d
JOIN assigned a ON a.doc_id = d.doc_id AND a.cluster_id = d.doc_id
ORDER BY d.doc_id
""",
    doc="The near-dup-deduplicated corpus: one representative (minimum "
        "id) per cluster, full rows — the action the clustering exists "
        "for. Keeper join is broadcast-sized (cluster table is tiny).",
)


def _cluster_split(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.graph import cluster_assignment
    from .operators.serve import hash_split
    docs = _t(spark, sf, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.2)
    assigned = cluster_assignment(docs, pairs).select("doc_id", "cluster_id")
    return (hash_split(assigned, id_col="cluster_id")
            .select("doc_id", "cluster_id", "bucket", "split")
            .orderBy("doc_id"))


register(
    "cluster_aware_split",
    _cluster_split,
    f"""{_NEARDUP_CLOSURE_SQL}
SELECT doc_id, cluster_id, bucket,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id,
             {_duck_md5_hash("CAST(cluster_id AS VARCHAR)")} % 10000
               AS bucket
      FROM assigned)
ORDER BY doc_id
""",
    doc="Leakage-safe split: the deterministic 90/5/5 hash split keyed "
        "on the near-dup CLUSTER id, so every member of a duplicate "
        "cluster lands in the same split — a doc-id split can leak a "
        "train near-dup into test, which split_leakage_screen detects "
        "and this prevents by construction.",
)


# ---------------------------------------------------------------------------
# Domain-mix reweighting: per-source sampling weights that move the
# corpus from its ACTUAL source mix to a TARGET mix (uniform here) —
# the data-mixing knob a training pipeline turns (DoReMi-style domain
# weights, applied as per-source sampling rates). Tiny agg + one-row
# broadcast; every output is an IEEE division of integer counts.
# ---------------------------------------------------------------------------

def _source_mix(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    totals = counts.agg(F.sum("n_docs").alias("n_total"),
                        F.count(F.lit(1)).alias("n_sources"))
    return (counts.crossJoin(F.broadcast(totals))
            .select("source", "n_docs",
                    (F.col("n_docs") / F.col("n_total"))
                    .alias("actual_frac"),
                    (F.lit(1.0) / F.col("n_sources")).alias("target_frac"),
                    ((F.col("n_total") / F.col("n_sources"))
                     / F.col("n_docs")).alias("sample_weight"))
            .orderBy("source"))


register(
    "source_mix_weights",
    _source_mix,
    """
WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
             COUNT(*) AS n_sources FROM c)
SELECT source, n_docs,
       n_docs / n_total AS actual_frac,
       1.0 / n_sources AS target_frac,
       (n_total / n_sources) / n_docs AS sample_weight
FROM c CROSS JOIN t ORDER BY source
""",
    doc="Per-source sampling weights to hit a uniform target mix "
        "(DoReMi-style domain reweighting): weight > 1 = upsample, "
        "< 1 = downsample; integer-count divisions only.",
)


# ---------------------------------------------------------------------------
# TF-IDF keywords + vocabulary OOV coverage
# ---------------------------------------------------------------------------

def _tfidf(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import tfidf_top_terms
    return (tfidf_top_terms(_t(spark, sf, "documents"), k=5)
            .orderBy("doc_id", "term"))


register(
    "tfidf_top_terms",
    _tfidf,
    f"""
WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS n_td FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(n_td) AS BIGINT) AS len_d FROM tf GROUP BY 1),
dfq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.n_td, dfq.df_t,
         (tf.n_td / dl.len_d) * ((nd.n_docs + 1.0) / (dfq.df_t + 1.0))
           AS tfidf
  FROM tf JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfq ON dfq.term = tf.term
  CROSS JOIN nd),
rk AS (SELECT *, ROW_NUMBER() OVER (
         PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
       FROM scored)
SELECT doc_id, term, n_td, df_t, tfidf FROM rk WHERE rn <= 5
ORDER BY doc_id, term
""",
    doc="Top-5 TF-IDF terms per document with a rational (log-free) idf "
        "so both engines compute bit-identical doubles.",
)


def _oov(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import top_terms, vocab_oov_rate
    docs = _t(spark, sf, "documents")
    vocab = top_terms(docs, k=50).select("term")
    return vocab_oov_rate(docs, vocab).orderBy("doc_id")


register(
    "vocab_oov_rate",
    _oov,
    f"""
WITH toks AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents),
vocab AS (SELECT term FROM (
    SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1
    ORDER BY freq DESC, term ASC LIMIT 50))
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       COUNT(*) FILTER (WHERE v.term IS NULL) AS n_oov,
       COUNT(*) FILTER (WHERE v.term IS NULL) / COUNT(*) AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.term = t.term
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
    doc="Per-document out-of-vocabulary rate against the corpus top-50 "
        "vocabulary (broadcast membership join).",
)


# ---------------------------------------------------------------------------
# Per-label embedding centroids (class prototypes / cluster summaries)
# ---------------------------------------------------------------------------

def _centroids(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import label_centroids
    return (label_centroids(_t(spark, sf, "embeddings"))
            .orderBy("label", "dim"))


register(
    "embedding_label_centroids",
    _centroids,
    """
WITH ex AS (
  SELECT label, vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         CAST(unnest(range(len(embedding))) AS INT) AS dim
  FROM embeddings),
agg AS (
  SELECT label, dim,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(v ORDER BY vec_id)),
                     (a, b) -> a + b) AS s,
         COUNT(*) AS n_vectors
  FROM ex GROUP BY 1, 2)
SELECT label, dim, s / n_vectors AS centroid, n_vectors
FROM agg ORDER BY label, dim
""",
    doc="Per-label embedding centroids via id-ordered sequential fold — "
        "partition-independent double arithmetic, bit-identical to the "
        "DuckDB list_reduce oracle.",
)


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (reproducible-forever corpus split)
# ---------------------------------------------------------------------------

def _split(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.serve import hash_split
    return (hash_split(_t(spark, sf, "documents"))
            .select("doc_id", "bucket", "split").orderBy("doc_id"))


register(
    "train_val_test_split",
    _split,
    f"""
SELECT doc_id, bucket,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             {_duck_md5_hash("CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
      FROM documents)
ORDER BY doc_id
""",
    doc="Deterministic 90/5/5 split by portable id-hash bucket — "
        "reproducible from raw ids alone, independent of partitioning "
        "and engine (randomSplit is layout-dependent; this is not).",
)


# ---------------------------------------------------------------------------
# Greedy sequence packing (fixed token-budget training sequences)
# ---------------------------------------------------------------------------

def _packing(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.packing import pack_sequences
    from .operators.text import BPE_ISH_PATTERN
    docs = _t(spark, sf, "documents").select(
        "lang", "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
         .cast("long").alias("n_tokens"))
    return (pack_sequences(docs, budget=512)
            .orderBy("lang", "doc_id"))


#: Shared recursive-CTE prefix replaying the greedy packer (also the
#: base of the pack-efficiency rollup below).
_PACK_RECURSIVE_SQL = """
WITH RECURSIVE toks AS (
  SELECT lang, doc_id,
         len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]'))
           AS n_tokens
  FROM documents),
ord AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
          AS rn FROM toks),
packed(lang, doc_id, n_tokens, rn, seq_id, seq_fill) AS (
  SELECT lang, doc_id, n_tokens, rn, CAST(0 AS BIGINT), n_tokens
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.lang, o.doc_id, o.n_tokens, o.rn,
         CASE WHEN p.seq_fill > 0 AND p.seq_fill + o.n_tokens > 512
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.seq_fill > 0 AND p.seq_fill + o.n_tokens > 512
              THEN o.n_tokens ELSE p.seq_fill + o.n_tokens END
  FROM packed p JOIN ord o ON o.lang = p.lang AND o.rn = p.rn + 1)
"""

register(
    "pack_sequences_by_lang",
    _packing,
    _PACK_RECURSIVE_SQL + """
SELECT lang, doc_id, n_tokens, seq_id, seq_fill
FROM packed ORDER BY lang, doc_id
""",
    doc="Greedy first-fit-in-order packing into 512-token sequences per "
        "language — sequential semantics via applyInPandas (numeric "
        "columns only cross the Arrow boundary); oracle replays the same "
        "recursion as a recursive CTE.",
)


def _pack_efficiency(spark: SparkSession, sf: str) -> DataFrame:
    packed = _packing(spark, sf)
    return (packed.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.max("seq_id") + 1).alias("n_seqs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 (F.sum("n_tokens").cast("double")
                  / ((F.max("seq_id") + 1) * 512)).alias("fill_rate"))
            .orderBy("lang"))


register(
    "pack_efficiency_report",
    _pack_efficiency,
    _PACK_RECURSIVE_SQL + """
SELECT lang, COUNT(*) AS n_docs,
       MAX(seq_id) + 1 AS n_seqs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / ((MAX(seq_id) + 1) * 512)
         AS fill_rate
FROM packed GROUP BY lang ORDER BY lang
""",
    doc="Packing efficiency per language shard: sequences produced and "
        "token fill rate against the 512 budget — the waste metric that "
        "tunes budget and sharding.",
)



register(
    "ngram_jaccard_pairs",
    lambda spark, sf: ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.2),
    f"""
WITH {_DUCK_HS},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM hs a JOIN hs b ON a.h = b.h WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS c
  FROM pairs p
  JOIN hs ha ON ha.doc_id = p.doc_a
  JOIN hs hb ON hb.doc_id = p.doc_b AND hb.h = ha.h
  GROUP BY 1, 2)
SELECT c.doc_a, c.doc_b, c.c / (sa.n + sb.n - c.c) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE c.c / (sa.n + sb.n - c.c) >= 0.2
ORDER BY doc_a, doc_b
""",
    doc="Exhaustive n-gram Jaccard baseline over shared-shingle pairs.",
)

register(
    "ngram_jaccard_pairs_capped",
    lambda spark, sf: ngram_jaccard_pairs(_t(spark, sf, "documents"),
                                          threshold=0.2, max_shingle_df=5),
    f"""
WITH {_DUCK_HS},
rare AS (SELECT h FROM hs GROUP BY h HAVING COUNT(*) <= 5),
cs AS (SELECT hs.doc_id, hs.h FROM hs JOIN rare ON rare.h = hs.h),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM cs a JOIN cs b ON a.h = b.h WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
common AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS c
  FROM pairs p
  JOIN hs ha ON ha.doc_id = p.doc_a
  JOIN hs hb ON hb.doc_id = p.doc_b AND hb.h = ha.h
  GROUP BY 1, 2)
SELECT c.doc_a, c.doc_b, c.c / (sa.n + sb.n - c.c) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE c.c / (sa.n + sb.n - c.c) >= 0.2
ORDER BY doc_a, doc_b
""",
    doc="n-gram Jaccard with the hot-shingle doc-frequency cap: "
        "boilerplate shingles (df > 5 — each contributes df² candidates "
        "and no signal) are dropped from candidate generation only; "
        "verification scores full shingle sets so surviving Jaccard "
        "values are exact. Bounds the baseline's quadratic fan-out.",
)

# ---------------------------------------------------------------------------
# SimHash + near-pairs
# ---------------------------------------------------------------------------

_DUCK_TOKHASH = f"""
tkh AS (
  SELECT doc_id, {_duck_md5_hash('tok')} AS h
  FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents))
"""

_SIMHASH_SUMS = ", ".join(
    f"SUM(2 * ((h >> {b}) & 1) - 1) AS s_{b}" for b in range(16))
_SIMHASH_COMBINE = " + ".join(
    f"CASE WHEN s_{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(16))

register(
    "simhash_signatures",
    lambda spark, sf: simhash(_t(spark, sf, "documents")),
    f"""
WITH {_DUCK_TOKHASH},
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM tkh GROUP BY doc_id)
SELECT doc_id, {_SIMHASH_COMBINE} AS simhash FROM sums
""",
    doc="16-bit SimHash from token-hash bit votes.",
)

register(
    "simhash_near_pairs",
    lambda spark, sf: simhash_near_pairs(_t(spark, sf, "documents"), max_hamming=3),
    f"""
WITH {_DUCK_TOKHASH},
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM tkh GROUP BY doc_id),
sig AS (SELECT doc_id, {_SIMHASH_COMBINE} AS simhash FROM sums)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a, sig b
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
""",
    doc="SimHash near-dup pairs by Hamming distance (banding = scale path).",
)

# ---------------------------------------------------------------------------
# Embedding similarity: brute-force cosine top-k
# ---------------------------------------------------------------------------

_ANN_QUERY_IDS = [0, 1, 2, 3, 4]

register(
    "ann_cosine_topk",
    lambda spark, sf: cosine_topk(_t(spark, sf, "embeddings"), _ANN_QUERY_IDS, k=3),
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id IN ({", ".join(map(str, _ANN_QUERY_IDS))})),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_duck_dot('q.qv', 'e.embedding')}
           / (sqrt({_duck_dot('q.qv', 'q.qv')})
              * sqrt({_duck_dot('e.embedding', 'e.embedding')})) AS cosine
  FROM q, embeddings e WHERE e.vec_id != q.query_id),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rn
           FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= 3 ORDER BY query_id, rn
""",
    doc="Brute-force cosine top-k (broadcast queries × streaming corpus).",
)

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

register(
    "text_stats",
    lambda spark, sf: text_stats(_t(spark, sf, "documents")),
    f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS tk FROM documents)
SELECT doc_id,
  length(text) AS n_chars,
  len(tk) AS n_tokens,
  len(list_distinct(tk)) AS n_distinct_tokens,
  (length(trim(text)) - (len(tk) - 1)) / len(tk) AS avg_token_len,
  len(list_filter(tk, x -> x IN ({_STOP_SQL}))) / len(tk) AS stopword_ratio
FROM t
""",
    doc="Per-document char/token/diversity/stopword statistics.",
)

register(
    "text_quality_score",
    lambda spark, sf: quality_score(_t(spark, sf, "documents")),
    f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents)
SELECT doc_id,
  (0.4 * least(len(tk) / 50.0, 1.0)
             + 0.4 * (len(list_distinct(tk)) / len(tk))
             + 0.2 * (len(list_filter(tk, x -> x IN ({_STOP_SQL}))) / len(tk))) AS quality
FROM t
""",
    doc="Composite quality score: length, diversity, stopword rate.",
)

_LANGS = list(LANG_PROFILES)
_HIT_SQL = ", ".join(
    "len(list_filter(tk, x -> x IN ({}))) AS hits_{}".format(
        ", ".join(f"'{w}'" for w in ws), lang)
    for lang, ws in LANG_PROFILES.items())
_BEST_SQL = "greatest({})".format(", ".join(f"hits_{lang}" for lang in _LANGS))
_PRED_SQL = ("CASE WHEN " + _BEST_SQL + " <= 0 THEN 'und' "
             + " ".join(f"WHEN hits_{lang} = {_BEST_SQL} THEN '{lang}'" for lang in _LANGS)
             + " ELSE 'und' END")

register(
    "text_lang_id",
    lambda spark, sf: lang_id(_t(spark, sf, "documents")),
    f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
h AS (SELECT doc_id, {_HIT_SQL} FROM t)
SELECT doc_id, {", ".join(f"hits_{lang}" for lang in _LANGS)},
       {_PRED_SQL} AS lang_pred
FROM h
""",
    doc="Stopword-profile language ID with deterministic argmax.",
)

register(
    "text_top_terms",
    lambda spark, sf: top_terms(_t(spark, sf, "documents")),
    f"""
SELECT term, COUNT(*) AS freq
FROM (SELECT unnest({_DUCK_TOKENS}) AS term FROM documents)
GROUP BY term ORDER BY freq DESC, term ASC LIMIT 20
""",
    doc="Corpus top-k term frequencies (one-shuffle word count).",
)

#: Trained coarse-quantizer centroids per (sf_dir, n_cells, n_iter).
#: The Lloyd fit is the only driver-side round in the IVF chain (one
#: k×dim collect per iteration) and is identical for every consumer
#: (ann_ivf_topk, ann_mrr_eval), so it runs once per fixture; the
#: testdata parquet is immutable within a round, which is what makes
#: the path-keyed memo sound.
_KMEANS_FIT_CACHE: dict[tuple, list] = {}


def _ivf_centroids(spark: SparkSession, sf: str, n_cells: int = 10,
                   n_iter: int = 3) -> list:
    from .operators.similarity import kmeans_fit
    key = (sf, n_cells, n_iter)
    if key not in _KMEANS_FIT_CACHE:
        _KMEANS_FIT_CACHE[key] = kmeans_fit(
            _t(spark, sf, "embeddings"), n_cells=n_cells, n_iter=n_iter,
            arrow_iters=True)
    return _KMEANS_FIT_CACHE[key]


def _ivf_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import assign_cells_fold
    # Persist the assignment: ivf_cosine_topk reads it three times
    # (centroid means, probe queries, candidate scan) and the argmin is
    # an interpreted 10-centroid fold per vector — same cache-lifetime
    # contract as the shingle frames (harness clearCache between
    # queries).
    cells = assign_cells_fold(_t(spark, sf, "embeddings"),
                              _ivf_centroids(spark, sf)).persist()
    return ivf_cosine_topk(cells, _ANN_QUERY_IDS, k=3, cell_col="cell")


def _duck_cent_from(assign: str) -> str:
    # per-(cell, dim) fold mean over an assignment CTE → centroid list
    return f"""(
  SELECT cell, list(m ORDER BY dim) AS centroid FROM (
    SELECT cell, dim,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
                       (a, b) -> a + b) / len(vs) AS m
    FROM (SELECT cell, dim, list(v ORDER BY vec_id) AS vs
          FROM (SELECT cell, vec_id,
                       CAST(unnest(embedding) AS DOUBLE) AS v,
                       CAST(unnest(range(len(embedding))) AS INT) AS dim
                FROM {assign})
          GROUP BY cell, dim))
  GROUP BY cell)"""


def _duck_lloyd_ctes(n_cells: int = 10,
                     n_iter: int = 3) -> tuple[list[str], str]:
    """Unrolled-Lloyd CTE prefix shared by every oracle that consumes
    ``assign_kmeans_cells`` (IVF ANN, SemDeDup).

    Every float in the Spark path is an id-ordered sequential fold
    (assign_kmeans_cells / label_centroids / ddot), so each Lloyd
    iteration — init from the n_cells smallest ids, argmin assignment
    against centroid literals, fold-mean recompute with empty-cell
    carry-over — can be replayed verbatim as SQL CTEs, iteration by
    iteration. Returns ``(ctes, final_assignment_cte_name)``; the final
    CTE has columns ``(vec_id, embedding, cell)``.
    """
    def d2(v: str, c: str) -> str:
        return (f"{_duck_dot(v, v)} - 2.0 * {_duck_dot(v, c)}"
                f" + {_duck_dot(c, c)}")

    ctes = [f"""cents0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {n_cells}))"""]
    for i in range(n_iter + 1):
        ctes.append(f"""assign{i + 1} AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {d2('e.embedding', 'c.centroid')} ASC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cents{i} c) t WHERE rn = 1)""")
        if i < n_iter:
            # fold-mean recompute; empty cells keep their old centroid
            ctes.append(f"""cents{i + 1} AS (
  SELECT c.cell, COALESCE(n.centroid, c.centroid) AS centroid
  FROM cents{i} c LEFT JOIN {_duck_cent_from(f'assign{i + 1}')} n
    ON n.cell = c.cell)""")
    return ctes, f"assign{n_iter + 1}"


def _ivf_kmeans_oracle(n_cells: int = 10, n_iter: int = 3,
                       k: int = 3, n_probe: int = 2) -> str:
    """Oracle for the full k-means IVF chain: the shared Lloyd prefix
    (:func:`_duck_lloyd_ctes`) plus centroid-probe selection and
    within-cell scoring. A full value hash, not a rows-only check."""
    cent_from = _duck_cent_from
    ctes, final = _duck_lloyd_ctes(n_cells, n_iter)
    ids = ", ".join(map(str, _ANN_QUERY_IDS))
    cos = (f"{_duck_dot('p.qv', 'a.embedding')} / "
           f"(sqrt({_duck_dot('p.qv', 'p.qv')}) * "
           f"sqrt({_duck_dot('a.embedding', 'a.embedding')}))")
    ctes.append(f"""centf AS (SELECT * FROM {cent_from(final)})""")
    ctes.append(f"""q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN ({ids}))""")
    ctes.append(f"""qc AS (
  SELECT q.query_id, q.qv, c.cell,
         {_duck_dot('q.qv', 'c.centroid')} /
           (sqrt({_duck_dot('q.qv', 'q.qv')}) *
            sqrt({_duck_dot('c.centroid', 'c.centroid')})) AS csim
  FROM q CROSS JOIN centf c)""")
    ctes.append(f"""probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY csim DESC, cell ASC) AS r
    FROM qc) t WHERE r <= {n_probe})""")
    ctes.append(f"""scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {cos} AS cosine
  FROM probes p JOIN {final} a ON a.cell = p.cell
  WHERE a.vec_id != p.query_id)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM scored) t
WHERE rn <= {k} ORDER BY query_id, rn
""")


register(
    "ann_ivf_topk",
    _ivf_kmeans,
    _ivf_kmeans_oracle(),
    doc="IVF ANN over deterministic k-means coarse cells (3 Lloyd "
        "iterations), probing the 2 nearest cells only; recall vs the "
        "exact baseline is pinned in tests. All centroid arithmetic is "
        "id-ordered folds, so the oracle unrolls the Lloyd iterations "
        "as CTEs and the whole chain is value-hash-checked.",
)

register(
    "text_fingerprint",
    lambda spark, sf: fingerprint(_t(spark, sf, "documents")),
    f"""
SELECT doc_id, {_duck_char_hash('text')} AS fingerprint FROM documents
""",
    doc="Rolling-hash document fingerprint (engine-portable fold).",
)

# ---------------------------------------------------------------------------
# Event-time windows (batch twins of the streaming plans)
# ---------------------------------------------------------------------------

_DUCK_EVENTS = "SELECT ts::TIMESTAMP AS ts, event_type, value, user_id FROM events"
_WIN = ("TIMESTAMP '1970-01-01' + (CAST(floor(epoch(ts) / {w}) AS BIGINT) * {w})"
        " * INTERVAL 1 SECOND")

register(
    "events_tumbling_agg",
    lambda spark, sf: tumbling_agg(_t(spark, sf, "events")),
    f"""
WITH e AS ({_DUCK_EVENTS})
SELECT {_WIN.format(w=600)} AS win_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM e GROUP BY 1, 2
""",
    doc="10-minute tumbling windows per event type (F.window).",
)

register(
    "events_sliding_agg",
    lambda spark, sf: sliding_agg(_t(spark, sf, "events")),
    f"""
WITH e AS ({_DUCK_EVENTS}),
assigned AS (
  SELECT unnest([CAST(floor(epoch(ts) / 300) AS BIGINT) * 300,
                 CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - 300]) AS s,
         value
  FROM e)
SELECT TIMESTAMP '1970-01-01' + s * INTERVAL 1 SECOND AS win_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM assigned GROUP BY 1
""",
    doc="10-minute windows sliding by 5 (each event in two windows).",
)

register(
    "events_sessionize",
    lambda spark, sf: sessionize(_t(spark, sf, "events")),
    f"""
WITH e AS ({_DUCK_EVENTS}),
m AS (SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s FROM e),
s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid FROM m)
SELECT user_id, min(ts) AS session_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
""",
    doc="Gap-based sessionization (F.session_window ≡ lag/cumsum oracle).",
)

# ---------------------------------------------------------------------------
# Temporal joins Spark lacks natively: as-of and banded range join —
# DuckDB's native ASOF JOIN / inequality join are the oracles.
# ---------------------------------------------------------------------------

def _asof(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.temporal import asof_join
    e = _t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click") \
              .select("event_id", "user_id", "ts")
    # The right side is deduped to ONE row per (key, ts) with an explicit
    # rule (max value) BEFORE the as-of join: DuckDB's native ASOF JOIN
    # does not specify which duplicate-timestamp row wins, so parity must
    # not rest on its tie behavior (ADVICE r1). Same GROUP BY in the
    # oracle below.
    purchases = (e.filter(F.col("event_type") == "purchase")
                  .groupBy("user_id", F.col("ts").alias("p_ts"))
                  .agg(F.max("value").alias("p_value")))
    return asof_join(clicks, purchases, on=["user_id"], left_ts="ts",
                     right_ts="p_ts", right_vals=["p_value", "p_ts"])


register(
    "asof_join_click_purchase",
    _asof,
    """
WITH e AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type, value
           FROM events),
clicks AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
purch AS (SELECT user_id, ts AS p_ts, MAX(value) AS p_value
          FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.user_id, c.ts, c.event_id,
       p.p_value AS asof_p_value, p.p_ts AS asof_p_ts
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND p.p_ts <= c.ts
""",
    doc="As-of join via union + carry-forward window vs DuckDB native ASOF.",
)


def _range_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.temporal import range_join_within
    e = _t(spark, sf, "events")
    views = e.filter(F.col("event_type") == "view") \
             .select("user_id", F.col("ts").alias("ts_view"))
    buys = e.filter(F.col("event_type") == "purchase") \
            .select("user_id", F.col("ts").alias("ts_buy"))
    return range_join_within(views, buys, on=["user_id"],
                             a_ts="ts_view", b_ts="ts_buy", max_gap_s=600)


register(
    "range_join_view_purchase",
    _range_pairs,
    """
WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_type FROM events)
SELECT DISTINCT a.user_id, a.ts AS ts_view, b.ts AS ts_buy
FROM (SELECT user_id, ts FROM e WHERE event_type = 'view') a
JOIN (SELECT user_id, ts FROM e WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600 * 1000000
""",
    doc="Banded range join (bucket equi-join + exact filter) vs inequality join.",
)

# ---------------------------------------------------------------------------
# Multimodal: binary payload plumbing (metadata JVM-side; features via
# Arrow-batched mapInPandas — still oracle-checkable because the stub
# decode is deterministic)
# ---------------------------------------------------------------------------

register(
    "multimodal_metadata",
    lambda spark, sf: attach_binary(_t(spark, sf, "documents"))
        .select("doc_id", F.col("meta.byte_len").alias("byte_len"),
                F.col("meta.mime").alias("mime")),
    """
SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS byte_len,
       'application/octet-stream' AS mime
FROM documents
""",
    doc="Binary payload column + typed metadata struct.",
)

register(
    "multimodal_features",
    lambda spark, sf: extract_features(attach_binary(_t(spark, sf, "documents"))),
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
       CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height,
       md5(text) AS content_md5
FROM documents
""",
    doc="Arrow-batched mapInPandas feature extraction over binary payloads.",
)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (exact baseline; LSH variant in tests)
# ---------------------------------------------------------------------------

# The REGISTERED near-dup operator is the LSH bucket join — the plan a
# 100 TB corpus actually runs (one shuffle on the bucket key, cost
# Σ bucket², never n²). The oracle reproduces the bucket assignment
# bit-exactly via duck_lsh_bucket_expr, so the lossy candidate set is
# itself oracle-checked; the O(n²) exact baseline stays available as
# embedding_neardup_pairs() for pytest recall measurement only.
_ENP_PLANES = 6
_ENP_THRESHOLD = 0.35

register(
    "embedding_neardup_pairs",
    lambda spark, sf: embedding_neardup_lsh(
        _t(spark, sf, "embeddings"), threshold=_ENP_THRESHOLD,
        n_planes=_ENP_PLANES, n_probe=2),
    f"""
WITH bkt AS (
  SELECT vec_id, embedding,
         {duck_lsh_bucket_expr('embedding', _ENP_PLANES)} AS bucket
  FROM embeddings),
a AS (SELECT vec_id, embedding,
             unnest([bucket, xor(bucket, 1)]) AS bucket FROM bkt),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_duck_dot('a.embedding', 'b.embedding')}
           / (sqrt({_duck_dot('a.embedding', 'a.embedding')})
              * sqrt({_duck_dot('b.embedding', 'b.embedding')})) AS cosine
  FROM a JOIN bkt b USING (bucket)
  WHERE a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cosine FROM cand
WHERE cosine >= {_ENP_THRESHOLD}
ORDER BY vec_a, vec_b
""",
    doc="Embedding-cosine near-dup pairs via multi-probe sign-bucket LSH "
        "(bucket equi-join; oracle mirrors the bucket expression "
        "bit-exactly, recall vs the exact baseline pinned in pytest).",
)


register(
    "text_token_counts",
    lambda spark, sf: token_counts(_t(spark, sf, "documents")),
    r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
       len(regexp_extract_all(text,
           '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]'))
         AS bpe_ish_tokens
FROM documents
""",
    doc="Token budgets: whitespace count + BPE-ish pre-tokenizer count "
        "(lookaround-free pattern, identical in Java regex and RE2).",
)


# ---------------------------------------------------------------------------
# Deterministic stratified sampling — the reproducible training-data
# downsampler: rank within stratum by a portable hash of the id and keep
# n per stratum. Unlike Bernoulli sampleBy, the selected SET is a pure
# function of the data (stable across engines, partitionings, and runs),
# which is what dataset curation actually needs for auditability.
# ---------------------------------------------------------------------------

def _strat_sample(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.serve import top_k_per_group
    from .operators.text import md5_hash
    docs = _t(spark, sf, "documents")
    sampled = top_k_per_group(
        docs, ["lang"],
        [md5_hash(F.col("doc_id").cast("string")), F.col("doc_id")], 50)
    return (sampled.select("doc_id", "lang", "source", "n_chars")
                   .orderBy("lang", "doc_id"))


register(
    "stratified_sample_docs",
    _strat_sample,
    f"""
SELECT doc_id, lang, source, n_chars FROM (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {_duck_md5_hash("CAST(doc_id AS VARCHAR)")},
                                     doc_id) AS rn
  FROM documents) t
WHERE rn <= 50 ORDER BY lang, doc_id
""",
    doc="Deterministic stratified sample: 50 docs per language, ranked by "
        "portable id hash — reproducible across engines and partitionings.",
)


# ---------------------------------------------------------------------------
# Per-group quantiles — exact distribution summary per stratum
# ---------------------------------------------------------------------------

register(
    "quantiles_by_status",
    lambda spark, sf: _t(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
             F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
             F.expr("percentile(o_totalprice, 0.75)").alias("p75"),
             F.expr("percentile(o_totalprice, 0.9)").alias("p90"))
        .orderBy("o_orderstatus"),
    """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.5)  AS p50,
       quantile_cont(o_totalprice, 0.75) AS p75,
       quantile_cont(o_totalprice, 0.9)  AS p90
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    doc="Exact per-group quantiles (interpolated), one shuffle.",
)


# ---------------------------------------------------------------------------
# PII redaction (pre-training scrub pass)
# ---------------------------------------------------------------------------

register(
    "text_redact_pii",
    lambda spark, sf: redact_pii(_t(spark, sf, "documents")),
    r"""
WITH s0 AS (SELECT doc_id, text AS t0 FROM documents),
s1 AS (SELECT doc_id, t0,
              regexp_replace(t0, 'https?://[^\s]+', '<URL>', 'g') AS t1
       FROM s0),
s2 AS (SELECT doc_id, t0, t1,
              regexp_replace(t1,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g') AS t2
       FROM s1)
SELECT doc_id,
       regexp_replace(t2, '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g')
         AS redacted,
       len(regexp_extract_all(t0, 'https?://[^\s]+')) AS n_url,
       len(regexp_extract_all(t1,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(t2, '\+?[0-9][0-9()\-. ]{7,}[0-9]')) AS n_phone
FROM s2
""",
    doc="PII scrub: URL/email/phone masking with per-rule hit counts; "
        "staged rule order is part of the contract.",
)


# ---------------------------------------------------------------------------
# Benchmark-contamination screen (eval-set leakage check)
# ---------------------------------------------------------------------------

def _contamination(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup_fuzzy import contamination_screen
    docs = _t(spark, sf, "documents")
    benchmark = docs.filter(F.col("doc_id") < 3).select("text")
    return contamination_screen(docs, benchmark)


register(
    "contamination_screen",
    _contamination,
    f"""
WITH {_DUCK_HS},
bench AS (SELECT DISTINCT h FROM hs WHERE doc_id < 3),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM hs GROUP BY 1),
ov AS (SELECT hs.doc_id, COUNT(*) AS c
       FROM hs JOIN bench ON hs.h = bench.h GROUP BY 1)
SELECT s.doc_id, s.n_shingles,
       COALESCE(ov.c, 0) AS n_overlap,
       COALESCE(ov.c, 0) / s.n_shingles AS contamination
FROM sizes s LEFT JOIN ov ON s.doc_id = ov.doc_id
ORDER BY s.doc_id
""",
    doc="Benchmark-contamination screen: per-doc fraction of shingles "
        "found in the (broadcast) benchmark shingle set; zeros kept.",
)


# ---------------------------------------------------------------------------
# End-to-end curation pipeline: dedup survivors → quality gate → language
# gate → token budget. The composed flow a training-data run executes —
# one registered query so the WHOLE chain is oracle-checked, not just the
# pieces.
# ---------------------------------------------------------------------------

def _curation(spark: SparkSession, sf: str) -> DataFrame:
    # Quality, language, and token budget are all row-local functions of
    # text, so after the dedup window they compose into ONE projection —
    # no self-joins, no recomputing the survivors plan per branch. The
    # whole pipeline is: scan → dedup shuffle → projection → filter → sort.
    from .operators.text import BPE_ISH_PATTERN, lang_pred_expr, quality_expr
    docs = _t(spark, sf, "documents")
    survivors = exact_dedup_survivors(docs)
    return (survivors.select(
                "doc_id",
                lang_pred_expr(F.col("text")).alias("lang_pred"),
                quality_expr(F.col("text")).alias("quality"),
                F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
                 .cast("long").alias("bpe_ish_tokens"))
            .filter((F.col("quality") >= 0.5) & (F.col("lang_pred") != "und"))
            .transform(_sorted1, "doc_id"))


register(
    "curation_pipeline",
    _curation,
    f"""
WITH surv AS (
  SELECT doc_id, text FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id ASC) AS rn
    FROM documents) x WHERE rn = 1),
t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM surv),
q AS (SELECT doc_id,
  (0.4 * least(len(tk) / 50.0, 1.0)
             + 0.4 * (len(list_distinct(tk)) / len(tk))
             + 0.2 * (len(list_filter(tk, x -> x IN ({_STOP_SQL}))) / len(tk))) AS quality
  FROM t),
h AS (SELECT doc_id, {_HIT_SQL} FROM t),
l AS (SELECT doc_id, {_PRED_SQL} AS lang_pred FROM h),
tok AS (SELECT doc_id,
  len(regexp_extract_all(text,
      '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]'))
    AS bpe_ish_tokens
  FROM surv)
SELECT s.doc_id, l.lang_pred, q.quality, tok.bpe_ish_tokens
FROM surv s
JOIN q   ON q.doc_id = s.doc_id
JOIN l   ON l.doc_id = s.doc_id
JOIN tok ON tok.doc_id = s.doc_id
WHERE q.quality >= 0.5 AND l.lang_pred != 'und'
ORDER BY s.doc_id
""",
    doc="The composed curation flow (dedup → quality gate → language gate "
        "→ token budget) oracle-checked end-to-end.",
)


# ---------------------------------------------------------------------------
# Ordered funnel over events (view → click → purchase)
# ---------------------------------------------------------------------------

def _funnel(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.windows import funnel_counts
    return funnel_counts(_t(spark, sf, "events"))


register(
    "events_funnel",
    _funnel,
    f"""
WITH e AS ({_DUCK_EVENTS}),
s0 AS (SELECT user_id, MIN(ts) FILTER (event_type = 'view') AS t0
       FROM e GROUP BY user_id),
s1 AS (SELECT e.user_id, MIN(e.ts) AS t1
       FROM e JOIN s0 ON e.user_id = s0.user_id
       WHERE e.event_type = 'click' AND e.ts >= s0.t0 GROUP BY e.user_id),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
       FROM e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'purchase' AND e.ts >= s1.t1 GROUP BY e.user_id)
SELECT COUNT(s0.t0) AS n_view,
       COUNT(s1.t1) AS n_click,
       COUNT(s2.t2) AS n_purchase,
       COUNT(s1.t1) / COUNT(s0.t0) AS pct_click,
       COUNT(s2.t2) / COUNT(s0.t0) AS pct_purchase
FROM s0
LEFT JOIN s1 ON s0.user_id = s1.user_id
LEFT JOIN s2 ON s0.user_id = s2.user_id
""",
    doc="Ordered conversion funnel: per-user first-times via chained "
        "conditional window mins, one shuffle total.",
)


# ---------------------------------------------------------------------------
# Semi-structured: from_json struct extraction + per-field aggregation
# ---------------------------------------------------------------------------

register(
    "events_props_struct",
    lambda spark, sf: _t(spark, sf, "events")
        .select(F.from_json(F.col("props"), "k BIGINT").alias("p"))
        .select(F.col("p.k").alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("k").agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("k"),
    """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       COUNT(*) AS n_events
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY k ORDER BY k
""",
    doc="from_json schema-on-read struct extraction feeding an "
        "aggregation (vs get_json_object's per-path scan).",
)


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (exact): daily distinct sets are small
# relative to the event stream, so the rolling union runs as a banded
# self-join over the REDUCED (day, user) table — never over raw events
# ---------------------------------------------------------------------------

def _rolling_dau(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    daily = (e.select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id")
              .distinct())
    # Each (day, user) row EMITS its 7 anchor days (explode of a
    # sequence) instead of inequality-joining against the day list —
    # an inequality join would plan as a nested-loop over
    # |daily| x |days|; the explode is linear with constant fan-out and
    # the only join left is a broadcast semi against the real day set
    # (anchors past the last observed day must not appear).
    days = daily.select(F.col("day").alias("anchor")).distinct()
    fanned = daily.select(
        F.explode(F.expr("sequence(day, day + INTERVAL 6 DAYS, INTERVAL 1 DAY)"))
         .alias("anchor"),
        "user_id")
    return (fanned.join(F.broadcast(days), "anchor", "left_semi")
                  .groupBy("anchor")
                  .agg(F.countDistinct("user_id").alias("rolling_users"))
                  .orderBy("anchor"))


register(
    "rolling_7d_distinct_users",
    _rolling_dau,
    f"""
WITH e AS ({_DUCK_EVENTS}),
daily AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                 user_id FROM e),
days AS (SELECT DISTINCT day AS anchor FROM daily)
SELECT anchor, COUNT(DISTINCT user_id) AS rolling_users
FROM daily JOIN days
  ON daily.day <= days.anchor AND daily.day > days.anchor - INTERVAL 7 DAY
GROUP BY anchor ORDER BY anchor
""",
    doc="Exact rolling 7-day distinct users over the reduced (day, user) "
        "table — the self-join never touches raw events.",
)


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity week; per (cohort,
# weeks-since) distinct retained users
# ---------------------------------------------------------------------------

def _cohorts(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    weekly = (e.select(F.date_trunc("week", F.col("ts")).alias("week"),
                       "user_id").distinct())
    first = weekly.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (weekly.join(first, "user_id")
            .select("cohort",
                    F.floor(F.unix_timestamp("week") / (7 * 86400)
                            - F.unix_timestamp("cohort") / (7 * 86400))
                     .cast("long").alias("weeks_since"),
                    "user_id")
            .groupBy("cohort", "weeks_since")
            .agg(F.countDistinct("user_id").alias("retained"))
            .orderBy("cohort", "weeks_since"))


register(
    "cohort_retention",
    _cohorts,
    f"""
WITH e AS ({_DUCK_EVENTS}),
weekly AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
                  user_id FROM e),
first AS (SELECT user_id, MIN(week) AS cohort FROM weekly GROUP BY user_id)
SELECT f.cohort,
       CAST(floor(epoch(w.week) / 604800 - epoch(f.cohort) / 604800)
            AS BIGINT) AS weeks_since,
       COUNT(DISTINCT w.user_id) AS retained
FROM weekly w JOIN first f ON w.user_id = f.user_id
GROUP BY f.cohort, weeks_since
ORDER BY f.cohort, weeks_since
""",
    doc="Cohort retention: first-week cohorts × weeks-since, distinct "
        "retained users per cell; all aggs on the reduced weekly table.",
)


# ---------------------------------------------------------------------------
# Paragraph-level dedup (CCNet/RefinedWeb boilerplate removal). The test
# corpus is single-line bags of words, so the registered query splits on a
# separator that actually occurs (' the ') — the keep-first window, vanishing
# docs, and reassembly paths all fire on real repeats; newline-paragraph
# semantics are pinned by pytest fixtures.
# ---------------------------------------------------------------------------

register(
    "paragraph_dedup",
    lambda spark, sf: paragraph_dedup(
        _t(spark, sf, "documents").select("doc_id", "text"), sep=" the "),
    f"""
WITH raw AS (SELECT doc_id, string_split(text, ' the ') AS ps FROM documents),
ex AS (SELECT doc_id,
              unnest(list_transform(ps,
                  (p, i) -> struct_pack(pos := i, para := trim(p)))) AS u
       FROM raw),
paras AS (SELECT doc_id, u.pos AS pos, u.para AS para,
                 {_duck_md5_hash("u.para")} AS h
          FROM ex WHERE u.para != ''),
flagged AS (SELECT doc_id, pos, para,
                   ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) = 1
                     AS kept
            FROM paras)
SELECT doc_id,
       COUNT(*) AS n_paras,
       COUNT(*) FILTER (WHERE kept) AS n_kept,
       string_agg(CASE WHEN kept THEN para END, ' the ' ORDER BY pos)
         AS text_dedup
FROM flagged GROUP BY doc_id
HAVING COUNT(*) FILTER (WHERE kept) > 0
ORDER BY doc_id
""",
    doc="Corpus-wide keep-first paragraph dedup with in-order document "
        "reassembly; one hash-keyed shuffle carrying (doc_id, pos, hash).",
)


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (dup-token fraction + top-n-gram char
# coverage). The per-doc argmax ties break (count DESC, gram DESC) on
# both engines — max(struct) in Spark, ROW_NUMBER in DuckDB.
# ---------------------------------------------------------------------------

def _duck_ngrams(n: int) -> str:
    return (f"CASE WHEN len(tk) >= {n} THEN "
            f"list_transform(range(1, len(tk) - {n} + 2), "
            f"i -> array_to_string(tk[i:i+{n - 1}], ' ')) "
            f"ELSE CAST([] AS VARCHAR[]) END")


register(
    "text_repetition_stats",
    lambda spark, sf: repetition_stats(_t(spark, sf, "documents")),
    f"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars, {_DUCK_TOKENS} AS tk
  FROM documents),
stats AS (
  SELECT doc_id, n_chars, len(tk) AS n_tokens,
         len(list_distinct(tk)) AS n_distinct, tk
  FROM base),
g2 AS (SELECT doc_id, unnest({_duck_ngrams(2)}) AS g FROM stats),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
t2 AS (SELECT doc_id, c, g FROM (
         SELECT doc_id, c, g, ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
         FROM c2) WHERE rn = 1),
g3 AS (SELECT doc_id, unnest({_duck_ngrams(3)}) AS g FROM stats),
c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
t3 AS (SELECT doc_id, c, g FROM (
         SELECT doc_id, c, g, ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
         FROM c3) WHERE rn = 1)
SELECT s.doc_id,
       (s.n_tokens - s.n_distinct) / s.n_tokens AS dup_token_frac,
       COALESCE(t2.c * length(t2.g) / s.n_chars, 0.0) AS top2gram_char_frac,
       COALESCE(t3.c * length(t3.g) / s.n_chars, 0.0) AS top3gram_char_frac
FROM stats s
LEFT JOIN t2 ON s.doc_id = t2.doc_id
LEFT JOIN t3 ON s.doc_id = t3.doc_id
ORDER BY s.doc_id
""",
    doc="Gopher-style repetition signals: duplicate-token fraction and "
        "the character share of the most frequent 2-/3-gram; explode → "
        "combinable hash-aggs, no corpus-wide windows.",
)


# ---------------------------------------------------------------------------
# Per-language calibrated quality gate: a single global threshold biases
# against whole languages (stopword profiles differ), so the cut is each
# language's own p25 — per-group quantile agg (tiny) broadcast back to
# the corpus, the same scale-safe shape as the MAD outlier gate (never a
# percentile window over the fact table).
# ---------------------------------------------------------------------------

def _quality_calibrated(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import quality_expr
    docs = _t(spark, sf, "documents")
    q = docs.select("doc_id", "lang",
                    quality_expr(F.col("text")).alias("quality"))
    # Explicit order-statistic p25, NOT the builtin percentile():
    # Spark interpolates (1-f)*lo + f*hi while DuckDB's quantile_cont
    # does lo + f*(hi-lo) — up to 1 ulp apart on dirty doubles, and
    # lang_q25 is both an output column and the gate boundary. Writing
    # ONE lerp formula on both engines over the same sorted list makes
    # the threshold bit-identical by construction. (Memory shape is the
    # same as percentile(): one buffered value list per lang — fine for
    # a handful of languages; a 100 TB corpus with huge groups would
    # switch to approx_percentile and give up the exact oracle.)
    thr = (q.groupBy("lang")
           .agg(F.sort_array(F.collect_list("quality")).alias("arr"))
           .select(
               "lang",
               F.expr("""
                 element_at(arr, CAST(floor(0.25 * (size(arr) - 1)) AS INT) + 1)
                 + (0.25 * (size(arr) - 1)
                    - floor(0.25 * (size(arr) - 1)))
                   * (element_at(arr, least(
                          CAST(floor(0.25 * (size(arr) - 1)) AS INT) + 2,
                          size(arr)))
                      - element_at(arr,
                          CAST(floor(0.25 * (size(arr) - 1)) AS INT) + 1))
               """).alias("lang_q25")))
    return (q.join(F.broadcast(thr), "lang")
            .filter(F.col("quality") >= F.col("lang_q25"))
            .select("doc_id", "lang", "quality", "lang_q25")
            .orderBy("doc_id"))


register(
    "quality_calibrated_filter",
    _quality_calibrated,
    f"""
WITH t AS (SELECT doc_id, lang, {_DUCK_TOKENS} AS tk FROM documents),
q AS (SELECT doc_id, lang,
  (0.4 * least(len(tk) / 50.0, 1.0)
             + 0.4 * (len(list_distinct(tk)) / len(tk))
             + 0.2 * (len(list_filter(tk, x -> x IN ({_STOP_SQL}))) / len(tk))) AS quality
  FROM t),
thr0 AS (SELECT lang, list_sort(list(quality)) AS arr
         FROM q GROUP BY lang),
thr AS (SELECT lang,
  arr[CAST(floor(0.25 * (len(arr) - 1)) AS INT) + 1]
  + (0.25 * (len(arr) - 1) - floor(0.25 * (len(arr) - 1)))
    * (arr[least(CAST(floor(0.25 * (len(arr) - 1)) AS INT) + 2, len(arr))]
       - arr[CAST(floor(0.25 * (len(arr) - 1)) AS INT) + 1]) AS lang_q25
  FROM thr0)
SELECT q.doc_id, q.lang, q.quality, thr.lang_q25
FROM q JOIN thr ON thr.lang = q.lang
WHERE q.quality >= thr.lang_q25
ORDER BY q.doc_id
""",
    doc="Per-language p25 quality gate: per-group quantile agg broadcast "
        "back to the corpus — no percentile window over the fact table.",
)


# ---------------------------------------------------------------------------
# Corpus card: the one-row datasheet a pipeline publishes with a corpus —
# volume, token budget, language mix, exact-dup rate. One scan + tiny
# combinable aggs (the lang distribution pivots through a map built from
# a GROUP BY, never a collect).
# ---------------------------------------------------------------------------

def _corpus_card(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import BPE_ISH_PATTERN
    from .operators.dedup_fuzzy import canonical_text
    docs = _t(spark, sf, "documents")
    base = docs.select(
        "doc_id", "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
         .cast("long").alias("n_tokens"),
        F.md5(canonical_text(F.col("text"))).alias("h"))
    return base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.max("n_tokens").alias("max_doc_tokens"),
        (F.sum("n_tokens") / F.count(F.lit(1))).alias("mean_doc_tokens"))


register(
    "corpus_card",
    _corpus_card,
    """
WITH base AS (
  SELECT doc_id, lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]'))
           AS BIGINT) AS n_tokens,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
  FROM documents)
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT h) AS n_unique_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT lang) AS n_langs,
       MAX(n_tokens) AS max_doc_tokens,
       CAST(SUM(n_tokens) AS BIGINT) / COUNT(*) AS mean_doc_tokens
FROM base
""",
    doc="One-row corpus datasheet: volume, token budget, language count, "
        "exact-dup rate inputs — single scan, combinable aggs.",
)


# ---------------------------------------------------------------------------
# The COMPOSED training-data prep pipeline — the full run a corpus goes
# through before tokenization, as ONE oracle-checked query:
#   exact dedup → near-dup dedup (MinHash+LSH → connected components,
#   keep min-id per cluster) → quality gate → language gate →
#   deterministic train split → greedy 512-token sequence packing.
# Every stage is a proven piece (each has its own registered query);
# this registers the composition so stage INTERACTIONS are value-checked
# end to end, not just the parts.
# ---------------------------------------------------------------------------

def _prep_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.graph import cluster_assignment
    from .operators.packing import pack_sequences
    from .operators.serve import hash_split
    from .operators.text import (BPE_ISH_PATTERN, lang_pred_expr,
                                 quality_expr)
    docs = _t(spark, sf, "documents")
    surv = exact_dedup_survivors(docs)
    pairs = minhash_dedup_pairs(surv, threshold=0.2)
    keepers = (cluster_assignment(surv, pairs)
               .filter(F.col("doc_id") == F.col("cluster_id"))
               .select("doc_id"))
    clean = surv.join(keepers, "doc_id")
    gated = (clean.select(
                "doc_id", "lang",
                quality_expr(F.col("text")).alias("quality"),
                lang_pred_expr(F.col("text")).alias("lang_pred"),
                F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
                 .cast("long").alias("n_tokens"))
             .filter((F.col("quality") >= 0.5)
                     & (F.col("lang_pred") != "und")))
    train = (hash_split(gated).filter(F.col("split") == "train")
             .select("lang", "doc_id", "n_tokens"))
    return pack_sequences(train, budget=512).transform(_sorted1, "lang", "doc_id")


_PREP_QUALITY_SQL = f"""(0.4 * least(len(tk) / 50.0, 1.0)
    + 0.4 * (len(list_distinct(tk)) / len(tk))
    + 0.2 * (len(list_filter(tk, x -> x IN ({_STOP_SQL}))) / len(tk)))"""

register(
    "prep_pipeline",
    _prep_pipeline,
    f"""
WITH RECURSIVE surv AS MATERIALIZED (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text, ROW_NUMBER() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id ASC) AS rn
    FROM documents) x WHERE rn = 1),
{_neardup_assigned_from('surv')},
keepers AS (SELECT doc_id FROM assigned WHERE cluster_id = doc_id),
clean AS (SELECT s.* FROM surv s JOIN keepers k ON k.doc_id = s.doc_id),
ct AS (SELECT doc_id, lang, text, {_DUCK_TOKENS} AS tk FROM clean),
hits AS (SELECT doc_id, {_HIT_SQL} FROM ct),
gated AS (
  SELECT ct.doc_id, ct.lang,
         len(regexp_extract_all(ct.text,
             '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]'))
           AS n_tokens
  FROM ct JOIN hits ON hits.doc_id = ct.doc_id
  WHERE {_PREP_QUALITY_SQL} >= 0.5 AND ({_PRED_SQL}) != 'und'),
train AS (
  SELECT lang, doc_id, n_tokens FROM gated
  WHERE ({_duck_md5_hash("CAST(doc_id AS VARCHAR)")} % 10000) < 9000),
ord AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
          AS rn FROM train),
packed(lang, doc_id, n_tokens, rn, seq_id, seq_fill) AS (
  SELECT lang, doc_id, n_tokens, rn, CAST(0 AS BIGINT), n_tokens
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.lang, o.doc_id, o.n_tokens, o.rn,
         CASE WHEN p.seq_fill > 0 AND p.seq_fill + o.n_tokens > 512
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.seq_fill > 0 AND p.seq_fill + o.n_tokens > 512
              THEN o.n_tokens ELSE p.seq_fill + o.n_tokens END
  FROM packed p JOIN ord o ON o.lang = p.lang AND o.rn = p.rn + 1)
SELECT lang, doc_id, n_tokens, seq_id, seq_fill
FROM packed ORDER BY lang, doc_id
""",
    doc="The composed prep run: exact dedup → near-dup cluster dedup → "
        "quality/language gates → deterministic train split → greedy "
        "sequence packing, value-checked end to end (two recursive CTEs "
        "in one oracle: transitive closure + packing recursion).",
)


# ---------------------------------------------------------------------------
# Cross-split leakage screen: after the deterministic split, does any
# TRAIN document share shingles with the TEST split? The check that
# catches near-duplicate pairs straddling a split boundary (exact dups
# land in the same split by construction — same text can still differ in
# id — but near-dups and quotations do not).
# ---------------------------------------------------------------------------

def _split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup_fuzzy import contamination_screen
    from .operators.serve import hash_split
    docs = _t(spark, sf, "documents")
    split = hash_split(docs)
    train = split.filter(F.col("split") == "train").select("doc_id", "text")
    test = split.filter(F.col("split") == "test").select("text")
    return contamination_screen(train, test)


register(
    "split_leakage_screen",
    _split_leakage,
    f"""
WITH split AS (
  SELECT doc_id, text,
         {_duck_md5_hash("CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
  FROM documents),
train AS (SELECT doc_id, text FROM split WHERE bucket < 9000),
test AS (SELECT text FROM split WHERE bucket >= 9500),
ttoks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM train),
tshs AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM ttoks),
ths AS (SELECT DISTINCT doc_id, {_duck_md5_hash('s')} AS h FROM tshs),
btoks AS (SELECT {_DUCK_TOKENS} AS tk FROM test),
bshs AS (SELECT unnest({_DUCK_SHINGLES}) AS s FROM btoks),
bench AS (SELECT DISTINCT {_duck_md5_hash('s')} AS h FROM bshs),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ths GROUP BY 1),
ov AS (SELECT ths.doc_id, COUNT(*) AS c
       FROM ths JOIN bench ON ths.h = bench.h GROUP BY 1)
SELECT s.doc_id, s.n_shingles,
       COALESCE(ov.c, 0) AS n_overlap,
       COALESCE(ov.c, 0) / s.n_shingles AS contamination
FROM sizes s LEFT JOIN ov ON s.doc_id = ov.doc_id
ORDER BY s.doc_id
""",
    doc="Train-vs-test shingle-overlap screen over the deterministic "
        "split — catches near-dup pairs straddling the split boundary; "
        "test-side shingle set broadcasts, train side scans once.",
)


# ---------------------------------------------------------------------------
# Packed-sequence manifest: the roster a trainer consumes — one row per
# (group, sequence) with the ordered member list. One combinable agg
# over the packing output.
# ---------------------------------------------------------------------------

def _seq_manifest(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.packing import pack_sequences
    from .operators.text import BPE_ISH_PATTERN
    docs = _t(spark, sf, "documents").select(
        "lang", "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
         .cast("long").alias("n_tokens"))
    packed = pack_sequences(docs, budget=512)
    return (packed.groupBy("lang", "seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.struct("doc_id"))),
                         lambda x: x["doc_id"].cast("string")),
                     ",").alias("doc_ids"))
            .orderBy("lang", "seq_id"))


register(
    "seq_manifest",
    _seq_manifest,
    """
WITH RECURSIVE toks AS (
  SELECT lang, doc_id,
         len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]'))
           AS n_tokens
  FROM documents),
ord AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
          AS rn FROM toks),
packed(lang, doc_id, n_tokens, rn, seq_id, seq_fill) AS (
  SELECT lang, doc_id, n_tokens, rn, CAST(0 AS BIGINT), n_tokens
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.lang, o.doc_id, o.n_tokens, o.rn,
         CASE WHEN p.seq_fill > 0 AND p.seq_fill + o.n_tokens > 512
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.seq_fill > 0 AND p.seq_fill + o.n_tokens > 512
              THEN o.n_tokens ELSE p.seq_fill + o.n_tokens END
  FROM packed p JOIN ord o ON o.lang = p.lang AND o.rn = p.rn + 1)
SELECT lang, seq_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
FROM packed GROUP BY lang, seq_id ORDER BY lang, seq_id
""",
    doc="Per-sequence roster (member docs in order, token totals) over "
        "the greedy packing — the manifest a trainer consumes.",
)


# ---------------------------------------------------------------------------
# Per-source rollup (C4-style domain stats): volume, token budget, and
# mean quality per source. quality_expr is a dirty double (deliberately
# unrounded — see its docstring), and double→DECIMAL casts tie-break
# differently across engines, so an explicit bround(q, 4) lands the
# value ON a 4dp decimal first (via oracle_util.duck_bround on the
# DuckDB side, which matches Spark's BigDecimal half-even exactly);
# the DECIMAL(18,6) cast is then exact on both engines and the sum is
# order-independent (functions/exact.py policy).
# ---------------------------------------------------------------------------

def _source_stats(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import BPE_ISH_PATTERN, quality_expr
    docs = _t(spark, sf, "documents")
    base = docs.select(
        "source",
        F.bround(quality_expr(F.col("text")), 4).alias("q"),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
         .cast("long").alias("n_tokens"))
    return (base.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 (F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
                  / F.count(F.lit(1))).alias("mean_quality"))
            .orderBy("source"))


register(
    "source_stats",
    _source_stats,
    f"""
WITH t AS (SELECT source, {_DUCK_TOKENS} AS tk, text FROM documents),
q AS (SELECT source,
  {duck_bround(_PREP_QUALITY_SQL, 4)} AS q,
  CAST(len(regexp_extract_all(text,
      '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]'))
    AS BIGINT) AS n_tokens
  FROM t)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS mean_quality
FROM q GROUP BY source ORDER BY source
""",
    doc="Per-source volume/token/quality rollup (domain stats); exact "
        "decimal quality sum keeps the mean order-independent.",
)


# ---------------------------------------------------------------------------
# Per-user behavioral feature vector (feature-store extraction): one row
# per user with typed activity counts and value stats — single shuffle
# on user_id, FILTER-style conditional aggs, exact decimal sums.
# ---------------------------------------------------------------------------

def _user_features(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    cnt = lambda t: F.count(F.when(F.col("event_type") == t, 1))  # noqa: E731
    return (ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 cnt("view").alias("n_view"),
                 cnt("click").alias("n_click"),
                 cnt("purchase").alias("n_purchase"),
                 F.sum(F.when(F.col("event_type") == "purchase",
                              F.col("value")).cast("decimal(18,2)"))
                  .cast("double").alias("purchase_value"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts"))
            .orderBy("user_id"))


register(
    "user_feature_vectors",
    _user_features,
    """
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(*) FILTER (event_type = 'view') AS n_view,
       COUNT(*) FILTER (event_type = 'click') AS n_click,
       COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            FILTER (event_type = 'purchase') AS DOUBLE) AS purchase_value,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM events GROUP BY user_id ORDER BY user_id
""",
    doc="Per-user behavioral feature vector: typed counts + exact-"
        "decimal value sums + activity span, one shuffle on user_id.",
)


# ---------------------------------------------------------------------------
# Language-ID confusion matrix: predicted vs labeled language over the
# corpus — the heuristic's evaluation artifact (precision per cell falls
# out of the counts).
# ---------------------------------------------------------------------------

def _langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import lang_pred_expr
    docs = _t(spark, sf, "documents")
    return (docs.select("lang",
                        lang_pred_expr(F.col("text")).alias("lang_pred"))
            .groupBy("lang", "lang_pred")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang", "lang_pred"))


register(
    "langid_confusion",
    _langid_confusion,
    f"""
WITH t AS (SELECT lang, {_DUCK_TOKENS} AS tk FROM documents),
h AS (SELECT lang, {_HIT_SQL} FROM t)
SELECT lang, {_PRED_SQL} AS lang_pred, COUNT(*) AS n
FROM h GROUP BY lang, lang_pred ORDER BY lang, lang_pred
""",
    doc="Language-ID confusion matrix (labeled vs predicted) — the "
        "evaluation artifact for the stopword-profile heuristic.",
)


# ---------------------------------------------------------------------------
# Containment near-dup pairs: asymmetric |A∩B| / min(|A|,|B|) — catches
# doc-inside-doc duplication (quotes, wrappers) that symmetric Jaccard
# dilutes. Same MinHash bucket candidates, one extra projection.
# ---------------------------------------------------------------------------

def _containment(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup_fuzzy import containment_pairs
    return containment_pairs(_t(spark, sf, "documents"), threshold=0.5)


register(
    "containment_pairs",
    _containment,
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
  GROUP BY 1, 2)
SELECT c.doc_a, c.doc_b,
       c.c / least(sa.n, sb.n) AS containment,
       c.c / sa.n AS containment_a,
       c.c / sb.n AS containment_b
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE c.c / least(sa.n, sb.n) >= 0.5
ORDER BY doc_a, doc_b
""",
    doc="Asymmetric containment pairs over MinHash bucket candidates — "
        "doc-inside-doc duplication that Jaccard dilutes.",
)


# ---------------------------------------------------------------------------
# Per-source dedup rate: which sources contribute the duplicate mass —
# the datasheet row that decides where to tighten crawling. One scan,
# two combinable aggs (distinct hashes counted per source).
# ---------------------------------------------------------------------------

def _source_dup_rate(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup_fuzzy import canonical_text
    docs = _t(spark, sf, "documents")
    base = docs.select("source",
                       F.md5(canonical_text(F.col("text"))).alias("h"))
    return (base.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("h").alias("n_unique"),
                 ((F.count(F.lit(1)) - F.countDistinct("h"))
                  / F.count(F.lit(1))).alias("dup_rate"))
            .orderBy("source"))


register(
    "source_dup_rate",
    _source_dup_rate,
    """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
         AS n_unique,
       (COUNT(*) - COUNT(DISTINCT
            md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))))
         / COUNT(*) AS dup_rate
FROM documents GROUP BY source ORDER BY source
""",
    doc="Per-source duplicate mass (exact-hash dup rate) — the "
        "datasheet row that targets crawl cleanup.",
)


# ---------------------------------------------------------------------------
# Context-window chunking: fixed-size token windows with overlap — the
# chunker that turns curated documents into training/RAG passages. Pure
# narrow map (tokenize → sequence → slice → posexplode), zero shuffles.
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 32
_CHUNK_STEP = 24  # 8-token overlap between consecutive chunks


def _doc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import chunk_documents
    return chunk_documents(_t(spark, sf, "documents"),
                           chunk_size=_CHUNK_SIZE, step=_CHUNK_STEP)


register(
    "doc_chunks",
    _doc_chunks,
    f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
s AS (SELECT doc_id, tk, len(tk) AS n,
             unnest(range(0, ((len(tk) - 1) // {_CHUNK_STEP}) + 1)) AS c
      FROM t WHERE len(list_filter(tk, x -> x <> '')) > 0)
SELECT doc_id,
       CAST(c AS INT) AS chunk_id,
       CAST(c * {_CHUNK_STEP} AS INT) AS chunk_start,
       array_to_string(tk[c * {_CHUNK_STEP} + 1 : c * {_CHUNK_STEP} + {_CHUNK_SIZE}], ' ')
         AS chunk_text,
       CAST(least({_CHUNK_SIZE}, n - c * {_CHUNK_STEP}) AS INT) AS n_chunk_tokens
FROM s
""",
    doc="Fixed-size token-window chunking with overlap (32-token chunks, "
        "24-token stride) — narrow map, no shuffle, codegen-only.",
)


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup bounded by k-means clusters (Abbas et al.
# 2023). Reuses the deterministic Lloyd quantizer, so the oracle replays
# the full chain — clustering AND survivor selection — as unrolled CTEs.
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.35


def _semdedup(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import semdedup_survivors
    # arrow_assign: Lloyd assignment passes run the Arrow matmul gear;
    # the oracle below still unrolls the fold-path CTEs (fold≡arrow on
    # this data is pinned in tests/test_fuzzy_similarity.py).
    return semdedup_survivors(_t(spark, sf, "embeddings"),
                              threshold=_SEMDEDUP_TAU, n_cells=10, n_iter=3,
                              arrow_assign=True, arrow_pairs=True)


def _semdedup_oracle(threshold: float, n_cells: int = 10,
                     n_iter: int = 3) -> str:
    ctes, final = _duck_lloyd_ctes(n_cells, n_iter)
    cos = (f"{_duck_dot('a.embedding', 'b.embedding')} / "
           f"(sqrt({_duck_dot('a.embedding', 'a.embedding')}) * "
           f"sqrt({_duck_dot('b.embedding', 'b.embedding')}))")
    return ("WITH " + ",\n".join(ctes) + f""",
drops AS (
  SELECT DISTINCT b.vec_id AS drop_id
  FROM {final} a JOIN {final} b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {cos} >= {threshold})
SELECT f.vec_id, f.cell FROM {final} f
WHERE f.vec_id NOT IN (SELECT drop_id FROM drops)
ORDER BY f.vec_id
""")


register(
    "semdedup_survivors",
    _semdedup,
    _semdedup_oracle(_SEMDEDUP_TAU),
    doc="SemDeDup semantic dedup: within each deterministic k-means "
        "cluster, drop vectors with a lower-id neighbor above cosine "
        "0.35 — pair generation bounded by Σ cell², one cell-key "
        "shuffle, never n²; the oracle unrolls Lloyd + survivor "
        "selection as CTEs for a full value hash.",
)


# ---------------------------------------------------------------------------
# Z-order layout manifest: Morton-interleave (custkey, order-day) and
# roll up per-file-bucket min/max ranges — the data-skipping index a
# lake write would persist. Narrow bit arithmetic + one agg shuffle.
# ---------------------------------------------------------------------------

def _zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.layout import minmax_scaled, zorder_key
    o = _t(spark, sf, "orders")
    x = F.col("o_custkey")
    y = F.datediff(F.col("o_orderdate"),
                   F.lit("1995-01-01").cast("date")).cast("int")
    # column stats for equal-width scaling — the same 1-row collect an
    # OPTIMIZE ZORDER pass does; the oracle derives identical values
    # via scalar subqueries.
    st = o.agg(F.min(x), F.max(x), F.min(y), F.max(y)).collect()[0]
    z = zorder_key(minmax_scaled(x, st[0], st[1], 16),
                   minmax_scaled(y, st[2], st[3], 16), bits=16)
    return (o.select(z.alias("zkey"), x.alias("ck"), y.alias("dy"))
             .groupBy(F.shiftright(F.col("zkey"), 26).alias("file_bucket"))
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.min("ck").alias("custkey_min"),
                  F.max("ck").alias("custkey_max"),
                  F.min("dy").alias("day_min"),
                  F.max("dy").alias("day_max"))
             .transform(_sorted1, "file_bucket"))


def _zorder_oracle() -> str:
    from .operators.layout import duck_minmax_scaled, duck_zorder_key
    y = "CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)"
    xs = duck_minmax_scaled(
        "o_custkey",
        "(SELECT MIN(o_custkey) FROM orders)",
        "(SELECT MAX(o_custkey) FROM orders)", 16)
    ys = duck_minmax_scaled(
        y,
        f"(SELECT MIN({y}) FROM orders)",
        f"(SELECT MAX({y}) FROM orders)", 16)
    z = duck_zorder_key(xs, ys, bits=16)
    return f"""
SELECT ({z} >> 26) AS file_bucket,
       COUNT(*) AS n_rows,
       MIN(o_custkey) AS custkey_min,
       MAX(o_custkey) AS custkey_max,
       MIN({y}) AS day_min,
       MAX({y}) AS day_max
FROM orders
GROUP BY 1 ORDER BY 1
"""


register(
    "zorder_layout",
    _zorder_layout,
    _zorder_oracle(),
    doc="Z-order (Morton) clustering manifest over (o_custkey, "
        "order-day): per-bucket min/max ranges stay narrow in BOTH "
        "dimensions, which is exactly the file-skipping property a "
        "lakehouse write on repartitionByRange(zkey) buys. Bit-exact "
        "key twin on both engines.",
)


# ---------------------------------------------------------------------------
# BPE vocabulary learning (Sennrich et al. 2016): corpus → word-frequency
# table (one shuffle, the only corpus touch) → n merge rounds on the
# vocab-sized table. Oracle unrolls every round as CTEs.
# ---------------------------------------------------------------------------

_BPE_MERGES = 6


def _bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.bpe import bpe_learn
    return bpe_learn(_t(spark, sf, "documents"), n_merges=_BPE_MERGES)


def _bpe_oracle() -> str:
    from .operators.bpe import duck_bpe_sql
    return duck_bpe_sql(_BPE_MERGES, duck_tokens=_DUCK_TOKENS)


register(
    "bpe_merges",
    _bpe_merges,
    _bpe_oracle(),
    doc="Distributed BPE tokenizer training: 6 merge rounds over the "
        "word-frequency table (corpus scanned once; rounds are "
        "vocab-sized). Deterministic argmax tie-break and two-pass "
        "replace merge give bit-identical merge tables on both engines.",
)


# ---------------------------------------------------------------------------
# DSIR importance weights: rate every document by target-vs-raw unigram
# likelihood (target = English subcorpus). Log-free exact arithmetic —
# see operators.text.dsir_importance_weights.
# ---------------------------------------------------------------------------

_DSIR_K = 32


def _dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import dsir_importance_weights
    return dsir_importance_weights(_t(spark, sf, "documents"),
                                   target=F.col("lang") == "en", k=_DSIR_K)


register(
    "dsir_weights",
    _dsir_weights,
    f"""
WITH base AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk, (lang = 'en') AS is_t
  FROM documents WHERE len({_DUCK_TOKENS}) > 0),
alltok AS (SELECT unnest(tk) AS w, is_t FROM base),
cr AS (SELECT w, COUNT(*) AS cr FROM alltok GROUP BY w),
ct AS (SELECT w, COUNT(*) AS ct FROM alltok WHERE is_t GROUP BY w),
scal AS (SELECT COUNT(*) AS nr,
                SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS nt,
                COUNT(DISTINCT w) AS v
         FROM alltok),
tok AS (SELECT doc_id,
               unnest(range(1, least(len(tk), {_DSIR_K}) + 1)) AS pos,
               unnest(tk[1 : {_DSIR_K}]) AS w
        FROM base),
rat AS (
  SELECT t.doc_id, t.pos,
         (CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
          * CAST(s.nr + s.v AS DOUBLE))
         / (CAST(s.nt + s.v AS DOUBLE) * CAST(cr.cr + 1 AS DOUBLE)) AS r
  FROM tok t JOIN cr ON cr.w = t.w
  LEFT JOIN ct ON ct.w = t.w
  CROSS JOIN scal s)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_scored,
       list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                                list(r ORDER BY pos)),
                   (a, b) -> a * b) AS dsir_weight
FROM rat GROUP BY doc_id ORDER BY doc_id
""",
    doc="DSIR data-selection importance weights (unigram, add-1 "
        "smoothed, target = lang='en'): position-ordered exact product "
        "over the first 32 tokens — log-free, so bit-identical across "
        "engines.",
)


def _bpe_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.bpe import bpe_encode_counts
    return bpe_encode_counts(_t(spark, sf, "documents"),
                             n_merges=_BPE_MERGES)


def _bpe_encode_oracle() -> str:
    from .operators.bpe import duck_bpe_encode_sql
    return duck_bpe_encode_sql(_BPE_MERGES, duck_tokens=_DUCK_TOKENS)


register(
    "bpe_token_budget",
    _bpe_token_budget,
    _bpe_encode_oracle(),
    doc="BPE encode side: apply the corpus's learned merges back to it "
        "— per-document whitespace vs BPE token budgets via a "
        "vocab-sized symbol table (broadcast join), one corpus explode, "
        "one combinable agg.",
)


def _frame_schedule(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.multimodal import frame_sample_schedule
    return frame_sample_schedule(attach_binary(_t(spark, sf, "documents")))


register(
    "multimodal_frame_schedule",
    _frame_schedule,
    """
WITH b AS (SELECT doc_id,
                  CAST(octet_length(encode(text)) * 10 AS INT)
                    AS duration_ms
           FROM documents),
s AS (SELECT doc_id, duration_ms,
             least(8, CAST(ceil(CAST(duration_ms AS DOUBLE) / 1000)
                           AS BIGINT)) AS n
      FROM b)
SELECT doc_id, duration_ms,
       CAST(n AS INT) AS n_frames,
       CAST(unnest(range(0, n)) AS INT) AS frame_idx,
       unnest(range(0, n)) * 1000 AS sample_ms
FROM s WHERE n > 0
""",
    doc="Deterministic frame-sampling schedule (1 frame/s, cap 8) from "
        "typed media metadata — the planning half of frame extraction; "
        "decode stays behind the mapInPandas seam.",
)


def _semdedup_diverse(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import semdedup_survivors_diverse
    return semdedup_survivors_diverse(_t(spark, sf, "embeddings"),
                                      threshold=_SEMDEDUP_TAU,
                                      n_cells=10, n_iter=3,
                                      arrow_assign=True, arrow_pairs=True)


def _semdedup_diverse_oracle(threshold: float, n_cells: int = 10,
                             n_iter: int = 3) -> str:
    ctes, final = _duck_lloyd_ctes(n_cells, n_iter)
    ccos = (f"{_duck_dot('a.embedding', 'c.centroid')} / "
            f"(sqrt({_duck_dot('a.embedding', 'a.embedding')}) * "
            f"sqrt({_duck_dot('c.centroid', 'c.centroid')}))")
    cos_ab = (f"{_duck_dot('a.embedding', 'b.embedding')} / "
              f"(sqrt({_duck_dot('a.embedding', 'a.embedding')}) * "
              f"sqrt({_duck_dot('b.embedding', 'b.embedding')}))")
    return ("WITH " + ",\n".join(ctes) + f""",
centf AS (SELECT * FROM {_duck_cent_from(final)}),
cc AS (
  SELECT a.vec_id, a.embedding, a.cell, {ccos} AS ccos
  FROM {final} a JOIN centf c ON c.cell = a.cell),
rk AS (
  SELECT vec_id, embedding, cell,
         ROW_NUMBER() OVER (PARTITION BY cell
                            ORDER BY ccos ASC, vec_id ASC) AS rnk
  FROM cc),
drops AS (
  SELECT DISTINCT b.vec_id AS d
  FROM rk a JOIN rk b ON a.cell = b.cell AND a.rnk < b.rnk
  WHERE {cos_ab} >= {threshold})
SELECT vec_id, cell FROM rk
WHERE vec_id NOT IN (SELECT d FROM drops)
ORDER BY vec_id
""")


register(
    "semdedup_diverse",
    _semdedup_diverse,
    _semdedup_diverse_oracle(_SEMDEDUP_TAU),
    doc="SemDeDup with the paper's keep policy: within each duplicate "
        "neighborhood the member FARTHEST from its cluster centroid "
        "survives (diversity-preserving), via a per-cell (centroid "
        "cosine, id) rank. Full unrolled-CTE oracle over Lloyd + "
        "centroids + ranking + drops.",
)


def _zorder_layout3(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.layout import minmax_scaled, zorder_key_n
    o = _t(spark, sf, "orders")
    x = F.col("o_custkey")
    y = F.datediff(F.col("o_orderdate"),
                   F.lit("1995-01-01").cast("date")).cast("int")
    # integer cents via floor (NOT a bare cast: Spark casts truncate
    # where DuckDB casts round — floor first is identical on both)
    p = F.floor(F.col("o_totalprice") * 100).cast("long")
    st = o.agg(F.min(x), F.max(x), F.min(y), F.max(y),
               F.min(p), F.max(p)).collect()[0]
    z = zorder_key_n([minmax_scaled(x, st[0], st[1], 16),
                      minmax_scaled(y, st[2], st[3], 16),
                      minmax_scaled(p, st[4], st[5], 16)], bits=16)
    return (o.select(z.alias("zkey"), x.alias("ck"), y.alias("dy"),
                     p.alias("cents"))
             .groupBy(F.shiftright(F.col("zkey"), 42).alias("file_bucket"))
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.min("ck").alias("ck_min"), F.max("ck").alias("ck_max"),
                  F.min("dy").alias("day_min"), F.max("dy").alias("day_max"),
                  F.min("cents").alias("cents_min"),
                  F.max("cents").alias("cents_max"))
             .transform(_sorted1, "file_bucket"))


def _zorder3_oracle() -> str:
    from .operators.layout import duck_minmax_scaled
    y = "CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)"
    p = "CAST(floor(o_totalprice * 100) AS BIGINT)"
    xs = duck_minmax_scaled("o_custkey",
                            "(SELECT MIN(o_custkey) FROM orders)",
                            "(SELECT MAX(o_custkey) FROM orders)", 16)
    ys = duck_minmax_scaled(y, f"(SELECT MIN({y}) FROM orders)",
                            f"(SELECT MAX({y}) FROM orders)", 16)
    ps = duck_minmax_scaled(p, f"(SELECT MIN({p}) FROM orders)",
                            f"(SELECT MAX({p}) FROM orders)", 16)
    terms = []
    for j, s in enumerate((xs, ys, ps)):
        for i in range(16):
            terms.append(f"(((({s}) >> {i}) & 1) << {3 * i + j})")
    z = "(" + " | ".join(terms) + ")"
    return f"""
SELECT ({z} >> 42) AS file_bucket,
       COUNT(*) AS n_rows,
       MIN(o_custkey) AS ck_min, MAX(o_custkey) AS ck_max,
       MIN({y}) AS day_min, MAX({y}) AS day_max,
       MIN({p}) AS cents_min, MAX({p}) AS cents_max
FROM orders
GROUP BY 1 ORDER BY 1
"""


register(
    "zorder_layout3",
    _zorder_layout3,
    _zorder3_oracle(),
    doc="Three-dimensional Morton layout manifest over (custkey, "
        "order-day, price-cents): key bits cycle through all three "
        "dims, so coarse buckets rectangle every dimension — min/max "
        "pruning works for predicates on any of the three.",
)


# ---------------------------------------------------------------------------
# Per-user anomaly screen: z-score outliers over event values. Variance
# comes from exact DECIMAL sums (count / sum / sum-of-squares are
# partition-independent), then one fixed double formula — so the flagged
# SET is bit-reproducible, unlike a naive stddev_samp whose float
# reduction order varies with partitioning.
# ---------------------------------------------------------------------------

def _events_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    d = F.col("value").cast("decimal(18,2)")
    stats = (ev.groupBy("user_id")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(d).alias("s1"),
                    F.sum(d * d).alias("s2")))
    j = ev.join(stats, "user_id")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    mean = s1d / F.col("n")
    var = (s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1)
    z = (F.col("value") - mean) / F.sqrt(var)
    return (j.filter((F.col("n") >= 2) & (var > 0))
             .select("event_id", "user_id", "value", z.alias("z"))
             .filter(F.abs(F.col("z")) > 3)
             .orderBy("event_id"))


register(
    "events_anomaly_zscore",
    _events_anomaly,
    """
WITH st AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS s1,
         SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
           AS s2
  FROM events GROUP BY user_id)
SELECT event_id, user_id, value,
       (value - CAST(s1 AS DOUBLE) / n)
         / sqrt((CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1))
         AS z
FROM events JOIN st USING (user_id)
WHERE n >= 2
  AND (CAST(s2 AS DOUBLE)
       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1) > 0
  AND abs((value - CAST(s1 AS DOUBLE) / n)
          / sqrt((CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                 / (n - 1))) > 3
ORDER BY event_id
""",
    doc="Per-user z-score anomaly screen over event values; variance "
        "from exact DECIMAL count/sum/sum-of-squares then one fixed "
        "double formula, so the flagged set is partition-independent.",
)


# ---------------------------------------------------------------------------
# Join-key skew diagnostics: the report an engineer reads BEFORE
# choosing broadcast / AQE skew-join / manual salting. One combinable
# count per key column, then tiny per-key-column stats.
# ---------------------------------------------------------------------------

_SKEW_KEYS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
]


def _join_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    out = None
    for table, key in _SKEW_KEYS:
        t = _t(spark, sf, table)
        per_key = t.groupBy(F.col(key)).agg(F.count(F.lit(1)).alias("c"))
        row = per_key.agg(
            F.lit(f"{table}.{key}").alias("join_key"),
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("max_key_rows"),
            # hot-key share and skew factor from exact integer counts;
            # single double division each → deterministic
            (F.max("c").cast("double") / F.sum("c")).alias("hot_share"),
            (F.max("c").cast("double") * F.count(F.lit(1)) / F.sum("c"))
             .alias("skew_factor"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("join_key")


_SKEW_SQL = "\nUNION ALL\n".join(f"""
SELECT '{table}.{key}' AS join_key,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       COUNT(*) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS max_key_rows,
       CAST(MAX(c) AS DOUBLE) / SUM(c) AS hot_share,
       CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c) AS skew_factor
FROM (SELECT {key}, COUNT(*) AS c FROM {table} GROUP BY {key})"""
                                 for table, key in _SKEW_KEYS)

register(
    "join_skew_report",
    _join_skew_report,
    _SKEW_SQL + "\nORDER BY join_key",
    doc="Per-join-key skew report (rows, keys, hottest key, skew "
        "factor = max/avg) — the numbers that pick broadcast vs AQE "
        "skew-join vs manual salting.",
)


# ---------------------------------------------------------------------------
# Dedup threshold-selection curve: pairs and affected docs at each
# candidate Jaccard cut — the plot a curator reads to pick the dedup
# threshold. One banded candidate pass, then tiny per-threshold counts.
# ---------------------------------------------------------------------------

_CURVE_THRESHOLDS = (0.2, 0.35, 0.5, 0.65, 0.8)


def _dedup_threshold_curve(spark: SparkSession, sf: str) -> DataFrame:
    # all banded candidates with exact Jaccard (threshold 0 keeps every
    # candidate; the LSH banding already bounds the set)
    pairs = minhash_dedup_pairs(_t(spark, sf, "documents"),
                                threshold=0.0).localCheckpoint(eager=True)
    out = None
    for t in _CURVE_THRESHOLDS:
        hit = pairs.filter(F.col("jaccard") >= t)
        row = hit.agg(
            F.lit(t).alias("threshold"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct(F.col("doc_a")).alias("n_docs_a"))
        docs = (hit.select(F.col("doc_a").alias("d"))
                   .unionAll(hit.select(F.col("doc_b").alias("d")))
                   .agg(F.countDistinct("d").alias("n_docs_affected")))
        row = row.crossJoin(docs)
        out = row if out is None else out.unionByName(row)
    return out.select("threshold", "n_pairs", "n_docs_affected") \
              .orderBy("threshold")


_CURVE_BASE = f"""
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
jac AS (
  SELECT c.doc_a, c.doc_b, c.c / (sa.n + sb.n - c.c) AS jaccard
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b)
"""

_CURVE_ROWS = "\nUNION ALL\n".join(f"""
SELECT CAST({t} AS DOUBLE) AS threshold,
       COUNT(*) AS n_pairs,
       (SELECT COUNT(DISTINCT d) FROM (
          SELECT doc_a AS d FROM jac WHERE jaccard >= {t}
          UNION ALL SELECT doc_b FROM jac WHERE jaccard >= {t}))
         AS n_docs_affected
FROM jac WHERE jaccard >= {t}""" for t in _CURVE_THRESHOLDS)

register(
    "dedup_threshold_curve",
    _dedup_threshold_curve,
    _CURVE_BASE + _CURVE_ROWS + "\nORDER BY threshold",
    doc="Dedup threshold-selection curve over LSH candidates: pairs and "
        "affected docs at each Jaccard cut — one banded candidate pass, "
        "per-threshold counts are tiny aggregates.",
)


# ---------------------------------------------------------------------------
# Per-doc label/prediction language mismatches — the actionable worklist
# behind langid_confusion's aggregate matrix.
# ---------------------------------------------------------------------------

def _lang_mismatch(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import lang_pred_expr
    docs = _t(spark, sf, "documents")
    return (docs.select("doc_id", "lang", "source",
                        lang_pred_expr(F.col("text")).alias("lang_pred"))
                .filter(F.col("lang_pred") != F.col("lang"))
                .orderBy("doc_id"))


register(
    "doc_lang_mismatch",
    _lang_mismatch,
    f"""
WITH t AS (SELECT doc_id, lang, source, {_DUCK_TOKENS} AS tk
           FROM documents),
h AS (SELECT doc_id, lang, source, {_HIT_SQL} FROM t)
SELECT doc_id, lang, source, {_PRED_SQL} AS lang_pred
FROM h
WHERE {_PRED_SQL} != lang
ORDER BY doc_id
""",
    doc="Per-document language label/prediction mismatches with source "
        "attribution — the relabeling worklist behind langid_confusion.",
)


# ---------------------------------------------------------------------------
# Token-balanced output sharding: round-robin docs (longest first) over
# N shards so per-shard token totals stay within a few percent — the
# deterministic writer layout for even training files.
# ---------------------------------------------------------------------------

_N_SHARDS = 8


def _shard_assignment(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import add_row_id
    from .operators.text import BPE_ISH_PATTERN
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
         .cast("long").alias("n_tokens"))
    # Global rank via the two-pass range-partitioned row id (W4's
    # machinery) instead of a single-task global window — same
    # deterministic (n_tokens DESC, doc_id ASC) order, corpus-scalable.
    ranked = (add_row_id(docs, [F.col("n_tokens").desc(),
                                F.col("doc_id").asc()], name="_r0")
              .withColumn("rn", (F.col("_r0") + 1).cast("int"))
              .drop("_r0"))
    # boustrophedon (snake) round-robin: longest docs spread first, each
    # pass reverses direction so early shards don't accumulate the heavy
    # head of every pass
    pass_no = ((F.col("rn") - 1) / _N_SHARDS).cast("long")
    pos = (F.col("rn") - 1) % _N_SHARDS
    shard = F.when(pass_no % 2 == 0, pos).otherwise(_N_SHARDS - 1 - pos)
    return (ranked.select("doc_id", "n_tokens",
                          shard.cast("int").alias("shard"))
                  .orderBy("doc_id"))


register(
    "shard_assignment",
    _shard_assignment,
    f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{{1,3}}|[^A-Za-z0-9\\s]'))
           AS n_tokens
  FROM documents),
r AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id ASC) AS rn
      FROM t)
SELECT doc_id, n_tokens,
       CAST(CASE WHEN ((rn - 1) // {_N_SHARDS}) % 2 = 0
                 THEN (rn - 1) % {_N_SHARDS}
                 ELSE {_N_SHARDS} - 1 - ((rn - 1) % {_N_SHARDS}) END
            AS INT) AS shard
FROM r ORDER BY doc_id
""",
    doc="Token-balanced snake round-robin shard assignment (8 shards, "
        "longest-first) — deterministic near-equal shard token totals "
        "for even training files. The global rank is the only wide op; "
        "at real scale assign within hash-partitioned substreams.",
)


# ---------------------------------------------------------------------------
# Repeat high-spenders: customers above the yearly average in two
# CONSECUTIVE years — the TPC-DS-style retention/value pattern (yearly
# agg, per-year benchmark join, adjacent-year self-join).
# ---------------------------------------------------------------------------

def _repeat_high_spenders(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    yearly = (o.groupBy(F.col("o_custkey").alias("custkey"),
                        F.year("o_orderdate").alias("yr"))
               .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                     .alias("spend")))
    bench = (yearly.groupBy("yr")
                   .agg(F.sum("spend").alias("total_spend"),
                        F.count(F.lit(1)).alias("n_customers")))
    # "above the yearly average" via cross-multiplication — spend *
    # n_customers > total_spend — so the predicate is exact decimal ×
    # integer arithmetic. A division here would be DECIMAL in Spark but
    # DOUBLE in DuckDB, and a customer within rounding distance of the
    # average could flip membership between engines.
    hi = (yearly.join(bench, "yr")
                .filter(F.col("spend")
                        * F.col("n_customers").cast("decimal(10,0)")
                        > F.col("total_spend"))
                .select("custkey", "yr"))
    a = hi.alias("a")
    b = hi.alias("b")
    return (a.join(b, (F.col("a.custkey") == F.col("b.custkey"))
                   & (F.col("b.yr") == F.col("a.yr") + 1))
             .select(F.col("a.custkey").alias("custkey"),
                     F.col("a.yr").alias("first_year"))
             .orderBy("custkey", "first_year"))


register(
    "repeat_high_spenders",
    _repeat_high_spenders,
    """
WITH yearly AS (
  SELECT o_custkey AS custkey, EXTRACT(year FROM o_orderdate) AS yr,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY 1, 2),
bench AS (SELECT yr, SUM(spend) AS total_spend,
                 COUNT(*) AS n_customers
          FROM yearly GROUP BY yr),
hi AS (SELECT custkey, yr FROM yearly JOIN bench USING (yr)
       WHERE spend * CAST(n_customers AS DECIMAL(10,0)) > total_spend)
SELECT a.custkey AS custkey, CAST(a.yr AS INT) AS first_year
FROM hi a JOIN hi b ON b.custkey = a.custkey AND b.yr = a.yr + 1
ORDER BY a.custkey, first_year
""",
    doc="Customers above the yearly average spend in two consecutive "
        "years (yearly agg -> benchmark join -> adjacent-year self-join).",
)


# ---------------------------------------------------------------------------
# Order fulfillment lag: days from order date to FIRST line shipment,
# rolled up per priority — min-agg join + exact integer-day averages.
# ---------------------------------------------------------------------------

def _fulfillment_lag(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    first_ship = (li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
                    .agg(F.min("l_shipdate").alias("first_ship")))
    lag = (o.join(first_ship, "o_orderkey")
             .select("o_orderpriority",
                     F.datediff(F.col("first_ship"),
                                F.col("o_orderdate")).alias("lag_days")))
    return (lag.groupBy("o_orderpriority")
               .agg(F.count(F.lit(1)).alias("n_orders"),
                    F.min("lag_days").alias("min_days"),
                    F.max("lag_days").alias("max_days"),
                    (F.sum("lag_days").cast("double")
                     / F.count(F.lit(1))).alias("avg_days"))
               .orderBy("o_orderpriority"))


register(
    "order_fulfillment_lag",
    _fulfillment_lag,
    """
WITH fs AS (
  SELECT l_orderkey AS o_orderkey, MIN(l_shipdate) AS first_ship
  FROM lineitem GROUP BY 1)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(first_ship AS DATE))) AS INT) AS min_days,
       CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(first_ship AS DATE))) AS INT) AS max_days,
       CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(first_ship AS DATE))) AS DOUBLE) / COUNT(*)
         AS avg_days
FROM orders JOIN fs USING (o_orderkey)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="Days from order to first shipment per priority — min-agg join "
        "plus exact integer-day averages (one double division).",
)


# ---------------------------------------------------------------------------
# Discount-band revenue: disjoint CASE banding + exact decimal revenue —
# the pricing-analytics rollup (a Q6 generalization over all bands).
# ---------------------------------------------------------------------------

def _discount_band_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    band = (F.when(F.col("l_discount") < 0.03, "00-02")
             .when(F.col("l_discount") < 0.06, "03-05")
             .when(F.col("l_discount") < 0.09, "06-08")
             .otherwise("09+"))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    return (li.groupBy(band.alias("discount_band"))
              .agg(F.count(F.lit(1)).alias("n_items"),
                   # Accumulate exact decimal, publish DOUBLE: the r06
                   # canary pair proved even int64-backed DECIMAL
                   # publication hash-diverges in the driver harness, so
                   # published schemas carry no DECIMAL at all
                   # (decimal→double is a correctly-rounded, deterministic
                   # cast on both engines).
                   F.sum(rev).cast("double").alias("revenue"),
                   (F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                     .cast("double") / F.count(F.lit(1))).alias("avg_qty"))
              .orderBy("discount_band"))


register(
    "discount_band_revenue",
    _discount_band_revenue,
    """
SELECT CASE WHEN l_discount < 0.03 THEN '00-02'
            WHEN l_discount < 0.06 THEN '03-05'
            WHEN l_discount < 0.09 THEN '06-08'
            ELSE '09+' END AS discount_band,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_qty
FROM lineitem
GROUP BY 1 ORDER BY 1
""",
    doc="Revenue and volume per discount band — disjoint CASE banding, "
        "exact decimal accumulation (a Q6 generalization).",
)


# ---------------------------------------------------------------------------
# RFM customer segmentation: recency / frequency / monetary with
# deterministic rank-based quintiles (id tie-break, so NTILE agrees
# across engines and partitionings).
# ---------------------------------------------------------------------------

def _ntile5_expr(rank: str, n: int) -> str:
    """NTILE(5) bucket of 1-based ``rank`` over ``n`` rows, as integer
    arithmetic: the first n%5 buckets take ceil(n/5) rows, the rest
    floor(n/5) — exactly SQL NTILE semantics, no window required."""
    q, rem = n // 5, n % 5
    big = rem * (q + 1)
    safe_q = max(q, 1)  # q=0 → every row lands in the WHEN branch
    return (f"CAST(CASE WHEN {rank} <= {big} "
            f"THEN ({rank} + {q}) div {q + 1} "
            f"ELSE {rem} + (({rank} - {big} + {safe_q - 1}) div {safe_q}) "
            f"END AS INT)")


def _customer_rfm(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup import add_row_id

    o = _t(spark, sf, "orders")
    asof = o.agg(F.max("o_orderdate").alias("asof")).collect()[0]["asof"]
    base = (o.groupBy(F.col("o_custkey").alias("custkey"))
             .agg(F.datediff(F.lit(asof).cast("date"),
                             F.max(F.col("o_orderdate")).cast("date"))
                   .alias("recency_days"),
                  F.count(F.lit(1)).alias("frequency"),
                  # Accumulate exact decimal, publish DOUBLE: the r06
                  # canary pair showed BOTH decimal widths hash-red in
                  # the driver harness, so published schemas carry no
                  # DECIMAL anywhere (tests/test_registry_types.py
                  # enforces this). decimal(18,2)→double is the nearest
                  # double to the exact 2-dp value on both engines —
                  # deterministic, so the hash still certifies equality.
                  F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   .cast("double").alias("monetary")))
    # Quintiles need three GLOBAL ranks; a plain NTILE window moves the
    # whole customer table to one task (WindowExec warns exactly that).
    # Instead: the two-pass range-partitioned row id (W4 machinery, same
    # as shard_assignment) per dimension, then NTILE arithmetic from the
    # rank — identical buckets, no single-partition stage. The customer
    # count is one scalar collect (same class as the asof date above).
    base = base.localCheckpoint(eager=True)  # feeds 3 rank passes + join
    n = base.count()
    dims = {
        "r_quintile": [F.asc("recency_days"), F.asc("custkey")],
        "f_quintile": [F.desc("frequency"), F.asc("custkey")],
        "m_quintile": [F.desc("monetary"), F.asc("custkey")],
    }
    out = base
    for col, order in dims.items():
        ranked = (add_row_id(base, order, name="_rk")
                  .select("custkey", F.expr(_ntile5_expr("(_rk + 1)", n))
                          .alias(col)))
        out = out.join(ranked, "custkey")
    return (out.select("custkey", "recency_days", "frequency", "monetary",
                       "r_quintile", "f_quintile", "m_quintile",
                       F.concat_ws("-", "r_quintile", "f_quintile",
                                   "m_quintile").alias("rfm_segment"))
               .orderBy("custkey"))


register(
    "customer_rfm",
    _customer_rfm,
    """
WITH base AS (
  SELECT o_custkey AS custkey,
         date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                   (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
           AS recency_days,
         COUNT(*) AS frequency,
         -- exact decimal accumulation, DOUBLE publication (no DECIMAL
         -- in any published schema — r06 canary evidence)
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey)
SELECT custkey, CAST(recency_days AS INT) AS recency_days, frequency,
       monetary,
       CAST(NTILE(5) OVER (ORDER BY recency_days ASC, custkey ASC) AS INT)
         AS r_quintile,
       CAST(NTILE(5) OVER (ORDER BY frequency DESC, custkey ASC) AS INT)
         AS f_quintile,
       CAST(NTILE(5) OVER (ORDER BY monetary DESC, custkey ASC) AS INT)
         AS m_quintile,
       CAST(NTILE(5) OVER (ORDER BY recency_days ASC, custkey ASC)
            AS VARCHAR)
         || '-' ||
       CAST(NTILE(5) OVER (ORDER BY frequency DESC, custkey ASC)
            AS VARCHAR)
         || '-' ||
       CAST(NTILE(5) OVER (ORDER BY monetary DESC, custkey ASC)
            AS VARCHAR) AS rfm_segment
FROM base ORDER BY custkey
""",
    doc="RFM segmentation with deterministic rank-based quintiles (id "
        "tie-break) — recency vs the corpus max date, exact decimal "
        "monetary. The global NTILEs run over the |customers| aggregate, "
        "not the fact table; at extreme scale swap in percent_rank over "
        "range-partitioned sorts.",
)


# ---------------------------------------------------------------------------
# Decimal-publication canary post-mortem (r06, canaries since retired).
#
# The r06 canary pair published IDENTICAL per-status order totals at
# DECIMAL(18,2) (int64-backed) and DECIMAL(28,2) (int128-backed). BOTH
# came back hash-red with rows/schema green and locally bit-exact values
# (tools/check_parity.py, type-strict) — falsifying the earlier "int128
# only" theory: the driver harness's value hash diverges on DECIMAL
# publication at ANY width, at least over `o_totalprice` aggregates.
# Engine arithmetic was never wrong in any mode.
#
# Standing policy (enforced by tests/test_registry_types.py): published
# schemas carry NO DECIMAL columns. Money/total columns accumulate in
# exact decimal internally and publish as DOUBLE (the correctly-rounded
# decimal→double cast is deterministic and identical on Spark and
# DuckDB, so the hash still certifies value equality) or as BIGINT
# cents. The canary queries themselves are retired — their question is
# answered and an expected-red query would waste a driver window slot.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Near-dup cluster-size distribution: the dup-structure datasheet row —
# how many singletons vs pairs vs larger cliques, and the heaviest
# cluster. Tiny aggregate on top of the shared closure.
# ---------------------------------------------------------------------------

def _cluster_size_distribution(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.graph import cluster_assignment
    docs = _t(spark, sf, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.2)
    sizes = (cluster_assignment(docs, pairs)
             .groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("cluster_size")))
    return (sizes.groupBy("cluster_size")
                 .agg(F.count(F.lit(1)).alias("n_clusters"),
                      (F.count(F.lit(1)) * F.col("cluster_size"))
                       .alias("n_docs"))
                 .orderBy("cluster_size"))


register(
    "neardup_cluster_sizes",
    _cluster_size_distribution,
    f"""{_NEARDUP_CLOSURE_SQL},
csizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
           FROM assigned GROUP BY 1)
SELECT cluster_size,
       COUNT(*) AS n_clusters,
       COUNT(*) * cluster_size AS n_docs
FROM csizes GROUP BY cluster_size ORDER BY cluster_size
""",
    doc="Distribution of near-dup cluster sizes (singletons, pairs, "
        "larger cliques, with doc mass per size) — the dup-structure "
        "datasheet; same closure oracle as neardup_clusters.",
)


# ---------------------------------------------------------------------------
# Duplicate n-gram exposure (Lee et al. 2022): per-doc fraction of
# distinct 3-gram shingles occurring in >= 2 documents — the
# memorization-risk datasheet column that pairwise near-dup misses for
# boilerplate spread thinly across many partners.
# ---------------------------------------------------------------------------

def _dup_ngram_stats(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.dedup_fuzzy import duplicate_ngram_stats
    return duplicate_ngram_stats(_t(spark, sf, "documents"))


register(
    "dup_ngram_rate",
    _dup_ngram_stats,
    f"""
WITH {_DUCK_HS},
dfq AS (SELECT h, COUNT(*) AS _df FROM hs GROUP BY h)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(SUM(CASE WHEN _df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_ngrams,
       CAST(SUM(CASE WHEN _df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         / CAST(COUNT(*) AS BIGINT) AS dup_ngram_rate
FROM hs JOIN dfq USING (h)
GROUP BY doc_id ORDER BY doc_id
""",
    doc="Per-document duplicate n-gram rate (share of distinct 3-grams "
        "present in other docs) — shingle document-frequency join, two "
        "combinable shuffles, corpus-linear (never a pair join).",
)


# ---------------------------------------------------------------------------
# Gopher-style rule-based quality flags (Rae et al. 2021, Table A1):
# hard per-rule booleans + conjunction, auditable rule by rule.
# ---------------------------------------------------------------------------

def _gopher_flags(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import gopher_quality_flags
    return gopher_quality_flags(_t(spark, sf, "documents"))


def _duck_gopher_ctes(src: str = "documents") -> tuple[str, str]:
    """Shared Gopher-rule CTE pair ``(sql, pass_condition)`` over table
    ``src`` — used by both the flags oracle and the composed release
    manifest so the rule arithmetic can never drift between them."""
    from .operators.text import (GOPHER_MAX_MEAN_WORD_LEN,
                                 GOPHER_MAX_SYMBOL_RATIO, GOPHER_MAX_WORDS,
                                 GOPHER_MIN_ALPHA_WORD_RATIO,
                                 GOPHER_MIN_MEAN_WORD_LEN,
                                 GOPHER_MIN_STOPWORD_HITS, GOPHER_MIN_WORDS)
    sql = f"""t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS tk FROM {src}),
b AS (SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             (length(trim(text)) - (len(tk) - 1)) / len(tk)
               AS mean_word_len,
             len(regexp_extract_all(text, '#|\\.\\.\\.|…'))
               / CAST(len(tk) AS BIGINT) AS symbol_ratio,
             len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
               / CAST(len(tk) AS BIGINT) AS alpha_word_ratio,
             CAST(len(list_filter(tk, x -> x IN ({_STOP_SQL}))) AS BIGINT)
               AS n_stopword_hits
      FROM t)"""
    cond = (f"(n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})"
            f" AND (mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}"
            f" AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN})"
            f" AND (symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO})"
            f" AND (alpha_word_ratio >= {GOPHER_MIN_ALPHA_WORD_RATIO})"
            f" AND (n_stopword_hits >= {GOPHER_MIN_STOPWORD_HITS})")
    return sql, cond


def _gopher_oracle() -> str:
    from .operators.text import (GOPHER_MAX_MEAN_WORD_LEN,
                                 GOPHER_MAX_SYMBOL_RATIO, GOPHER_MAX_WORDS,
                                 GOPHER_MIN_ALPHA_WORD_RATIO,
                                 GOPHER_MIN_MEAN_WORD_LEN,
                                 GOPHER_MIN_STOPWORD_HITS, GOPHER_MIN_WORDS)
    ctes, _ = _duck_gopher_ctes()
    return f"""
WITH {ctes}
SELECT *,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
         AS ok_word_count,
       (mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
        AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}) AS ok_word_len,
       (symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO}) AS ok_symbol_ratio,
       (alpha_word_ratio >= {GOPHER_MIN_ALPHA_WORD_RATIO})
         AS ok_alpha_words,
       (n_stopword_hits >= {GOPHER_MIN_STOPWORD_HITS}) AS ok_stopwords,
       ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
        AND (mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
             AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN})
        AND (symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO})
        AND (alpha_word_ratio >= {GOPHER_MIN_ALPHA_WORD_RATIO})
        AND (n_stopword_hits >= {GOPHER_MIN_STOPWORD_HITS}))
         AS passes_gopher
FROM b ORDER BY doc_id
"""


register(
    "gopher_quality_flags",
    _gopher_flags,
    _gopher_oracle(),
    doc="Gopher-style rule table: word-count/word-length bounds, symbol "
        "ratio, alpha-word share, stopword evidence — one boolean per "
        "rule plus the conjunction, all in one narrow scan pass.",
)


# ---------------------------------------------------------------------------
# Stratified deterministic sampling: apply a per-source mix decision as
# hash-threshold Bernoulli thinning (the executable counterpart of
# source_mix_weights), audited per stratum.
# ---------------------------------------------------------------------------

_STRAT_RATES = {f"src{i}": round(0.2 + 0.04 * i, 2) for i in range(20)}
_STRAT_BUCKETS = 10_000


def _stratified_audit(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.serve import stratified_hash_sample
    docs = _t(spark, sf, "documents")
    kept = (stratified_hash_sample(docs, _STRAT_RATES,
                                   n_buckets=_STRAT_BUCKETS)
            .groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")))
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    rtab = spark.createDataFrame(sorted(_STRAT_RATES.items()),
                                 "source string, target_rate double")
    return (tot.join(kept, "source", "left")
               .join(F.broadcast(rtab), "source", "left")
               .select("source", "n_docs",
                       F.coalesce("n_kept", F.lit(0)).cast("bigint")
                        .alias("n_kept"),
                       "target_rate",
                       (F.coalesce("n_kept", F.lit(0)) / F.col("n_docs"))
                        .alias("realized_rate"))
               .transform(_sorted1, "source"))


def _stratified_oracle() -> str:
    vals = ",\n    ".join(
        f"('{s}', {r!r}, {int(round(r * _STRAT_BUCKETS))})"
        for s, r in sorted(_STRAT_RATES.items()))
    bucket = (f"('0x' || substr(md5(source || ':' || "
              f"CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT "
              f"% {_STRAT_BUCKETS}")
    return f"""
WITH r AS (SELECT * FROM (VALUES
    {vals}) t(source, target_rate, _thr)),
tot AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
k AS (SELECT d.source, COUNT(*) AS n_kept
      FROM documents d JOIN r USING (source)
      WHERE {bucket} < _thr
      GROUP BY d.source)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
       CAST(target_rate AS DOUBLE) AS target_rate,
       CAST(COALESCE(n_kept, 0) AS BIGINT) / CAST(n_docs AS BIGINT)
         AS realized_rate
FROM tot LEFT JOIN k USING (source) LEFT JOIN r USING (source)
ORDER BY source
"""


register(
    "stratified_sample_audit",
    _stratified_audit,
    _stratified_oracle(),
    doc="Per-source deterministic Bernoulli thinning (hash threshold on "
        "(source, id), integer thresholds, broadcast rate table) with a "
        "per-stratum realized-vs-target audit. Partitioning- and "
        "engine-independent keep decisions; no shuffle of the fact side.",
)


# ---------------------------------------------------------------------------
# int8 scalar-quantization audit: per-dim reconstruction error if the
# embedding corpus were SQ8-compressed (the 4x ANN memory saver).
# ---------------------------------------------------------------------------

def _quant_audit(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.similarity import quantization_audit
    return quantization_audit(_t(spark, sf, "embeddings"))


register(
    "embedding_quantization_audit",
    _quant_audit,
    """
WITH ex AS (
  SELECT vec_id, CAST(unnest(range(len(embedding))) AS INT) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
st AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY dim),
coded AS (
  SELECT vec_id, dim, mn, mx, v,
         CASE WHEN mx = mn THEN mn
              ELSE mn + (CAST(CASE WHEN mx = mn THEN 0
                              ELSE least(255, CAST(floor(((v - mn) / (mx - mn)) * 255)
                                              AS BIGINT)) END AS DOUBLE)
                         + 0.5) * ((mx - mn) / 255.0) END AS deq
  FROM ex JOIN st USING (dim)),
e AS (SELECT vec_id, dim, mn, mx, v - deq AS err,
             (v - deq) * (v - deq) AS e2
      FROM coded)
SELECT dim, MIN(mn) AS mn, MIN(mx) AS mx,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                list(e2 ORDER BY vec_id)),
                   (a, b) -> a + b) / COUNT(*) AS mse,
       MAX(abs(err)) AS max_abs_err
FROM e GROUP BY dim ORDER BY dim
""",
    doc="Per-dimension int8 scalar-quantization audit (SQ8): corpus "
        "min/max scale, midpoint-dequant MSE (id-ordered exact fold) "
        "and max abs error — the enable-compression go/no-go table.",
)


# ---------------------------------------------------------------------------
# Tokenizer pressure by language: whitespace vs BPE-ish pre-tokenizer
# counts per language — the fertility-style datasheet row that decides
# which languages a shared vocabulary is under-serving.
# ---------------------------------------------------------------------------

def _token_fertility_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.text import BPE_ISH_PATTERN, tokens
    docs = _t(spark, sf, "documents")
    per_doc = docs.select(
        "lang",
        F.size(tokens(F.col("text"))).cast("long").alias("ws"),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
         .cast("long").alias("bp"))
    return (per_doc.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ws").alias("ws_tokens"),
                 F.sum("bp").alias("bpe_ish_tokens"))
            .select("lang", "n_docs", "ws_tokens", "bpe_ish_tokens",
                    (F.col("bpe_ish_tokens") / F.col("ws_tokens"))
                     .alias("fertility"))
            .orderBy("lang"))


register(
    "token_fertility_by_lang",
    _token_fertility_by_lang,
    r"""
WITH d AS (
  SELECT lang,
         len(string_split_regex(trim(text), '\s+')) AS ws,
         len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]'))
           AS bp
  FROM documents)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bp) AS BIGINT) AS bpe_ish_tokens,
       CAST(SUM(bp) AS BIGINT) / CAST(SUM(ws) AS BIGINT) AS fertility
FROM d GROUP BY lang ORDER BY lang
""",
    doc="Per-language tokenizer pressure: BPE-ish tokens per whitespace "
        "token (fertility) — one scan, one combinable agg; integer sums "
        "then one exact IEEE division.",
)




# ---------------------------------------------------------------------------
# clustering_agreement (r11): Adjusted Rand Index + NMI between the
# verified near-dup clustering and the source partition — the standard
# external-validity audit for a dedup clustering ("do near-dup clusters
# respect corpus provenance?"). ARI is computed from the contingency
# table in EXACT integer arithmetic (pair counts and their cross
# products in DECIMAL(18,0)-factor products, one final IEEE division);
# the entropy terms of NMI quantize each cell's contribution to
# micro-nats BEFORE the order-free integer sum, the bm25 precedent for
# ln's libm variance. Scale: contingency is |clusters|×|sources| cells
# via one combinable agg; marginals and scalars are tiny broadcast
# frames; nothing corpus-sized shuffles beyond the clustering itself.
# Registered BEHIND the r11 window (registration-pause discipline).
# ---------------------------------------------------------------------------

def _clustering_agreement(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.graph import cluster_assignment
    docs = _t(spark, sf, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.2)
    assigned = cluster_assignment(docs, pairs).select("doc_id", "cluster_id")
    ct = (assigned.join(docs.select("doc_id", "source"), "doc_id")
          .groupBy("cluster_id", "source")
          .agg(F.count(F.lit(1)).alias("nij")))
    tot = ct.agg(F.sum("nij").alias("n"))
    a = ct.groupBy("cluster_id").agg(F.sum("nij").alias("ai"))
    b = ct.groupBy("source").agg(F.sum("nij").alias("bj"))

    def pair2(c):
        return F.sum(c * (c - 1) / F.lit(2)).cast("long")

    def ent_micro(c):
        # per-cell micro-nat quantization, then exact integer sum
        p = c.cast("double") / F.col("n").cast("double")
        return F.sum(F.round(-(p * F.log(p)) * F.lit(1000000.0))
                     .cast("long"))

    sij = ct.agg(pair2(F.col("nij")).alias("sij2"))
    sa = (a.crossJoin(F.broadcast(tot))
           .agg(pair2(F.col("ai")).alias("sa2"),
                ent_micro(F.col("ai")).alias("ha_micro")))
    sb = (b.crossJoin(F.broadcast(tot))
           .agg(pair2(F.col("bj")).alias("sb2"),
                ent_micro(F.col("bj")).alias("hb_micro")))
    mi = (ct.join(a, "cluster_id").join(b, "source")
          .crossJoin(F.broadcast(tot))
          .agg(F.sum(F.round(
               (F.col("nij").cast("double") / F.col("n").cast("double"))
               * F.log(F.col("n").cast("double")
                       * F.col("nij").cast("double")
                       / (F.col("ai").cast("double")
                          * F.col("bj").cast("double")))
               * F.lit(1000000.0)).cast("long")).alias("mi_micro"),
               F.count(F.lit(1)).alias("n_cells")))
    d18 = "decimal(18,0)"
    c2 = (F.col("n") * (F.col("n") - 1) / F.lit(2)).cast(d18)
    num = (F.lit(2).cast(d18)
           * (c2 * F.col("sij2").cast(d18)
              - F.col("sa2").cast(d18) * F.col("sb2").cast(d18)))
    den = (c2 * (F.col("sa2") + F.col("sb2")).cast(d18)
           - F.lit(2).cast(d18)
           * F.col("sa2").cast(d18) * F.col("sb2").cast(d18))
    nmi_den = F.sqrt(F.col("ha_micro").cast("double")
                     * F.col("hb_micro").cast("double"))
    return (tot.crossJoin(sij).crossJoin(sa).crossJoin(sb).crossJoin(mi)
            .select(
                F.col("n").alias("n_docs"),
                F.col("n_cells"),
                F.col("sij2"), F.col("sa2"), F.col("sb2"),
                F.when(den == 0, F.lit(0)).otherwise(
                    F.round(num.cast("double") / den.cast("double")
                            * F.lit(1000000.0))).cast("long")
                 .alias("ari_micro"),
                F.when(nmi_den == 0, F.lit(0)).otherwise(
                    F.round(F.col("mi_micro").cast("double") / nmi_den
                            * F.lit(1000000.0))).cast("long")
                 .alias("nmi_micro")))


register(
    "clustering_agreement",
    _clustering_agreement,
    f"""{_NEARDUP_CLOSURE_SQL},
lab AS (SELECT a.doc_id, a.cluster_id, d.source
        FROM assigned a JOIN documents d USING (doc_id)),
ct AS (SELECT cluster_id, source, CAST(COUNT(*) AS BIGINT) AS nij
       FROM lab GROUP BY 1, 2),
tot AS (SELECT SUM(nij) AS n FROM ct),
ma AS (SELECT cluster_id, SUM(nij) AS ai FROM ct GROUP BY 1),
mb AS (SELECT source, SUM(nij) AS bj FROM ct GROUP BY 1),
sij AS (SELECT CAST(SUM(nij * (nij - 1) / 2) AS BIGINT) AS sij2 FROM ct),
sa AS (SELECT CAST(SUM(ai * (ai - 1) / 2) AS BIGINT) AS sa2,
              CAST(SUM(CAST(ROUND(-(CAST(ai AS DOUBLE) / CAST(n AS DOUBLE)
                     * ln(CAST(ai AS DOUBLE) / CAST(n AS DOUBLE)))
                     * 1000000.0) AS BIGINT)) AS BIGINT) AS ha_micro
       FROM ma, tot),
sb AS (SELECT CAST(SUM(bj * (bj - 1) / 2) AS BIGINT) AS sb2,
              CAST(SUM(CAST(ROUND(-(CAST(bj AS DOUBLE) / CAST(n AS DOUBLE)
                     * ln(CAST(bj AS DOUBLE) / CAST(n AS DOUBLE)))
                     * 1000000.0) AS BIGINT)) AS BIGINT) AS hb_micro
       FROM mb, tot),
mi AS (SELECT CAST(SUM(CAST(ROUND(
              (CAST(nij AS DOUBLE) / CAST(n AS DOUBLE))
              * ln(CAST(n AS DOUBLE) * CAST(nij AS DOUBLE)
                   / (CAST(ai AS DOUBLE) * CAST(bj AS DOUBLE)))
              * 1000000.0) AS BIGINT)) AS BIGINT) AS mi_micro,
              CAST(COUNT(*) AS BIGINT) AS n_cells
       FROM ct JOIN ma USING (cluster_id) JOIN mb USING (source), tot),
fin AS (
  SELECT n, n_cells, sij2, sa2, sb2, ha_micro, hb_micro, mi_micro,
         CAST(n * (n - 1) / 2 AS DECIMAL(18,0)) AS c2
  FROM tot, sij, sa, sb, mi)
SELECT CAST(n AS BIGINT) AS n_docs, n_cells, sij2, sa2, sb2,
       CASE WHEN (c2 * CAST(sa2 + sb2 AS DECIMAL(18,0))
                  - CAST(2 AS DECIMAL(18,0)) * CAST(sa2 AS DECIMAL(18,0))
                    * CAST(sb2 AS DECIMAL(18,0))) = 0 THEN 0
            ELSE CAST(ROUND(
              CAST(CAST(2 AS DECIMAL(18,0))
                   * (c2 * CAST(sij2 AS DECIMAL(18,0))
                      - CAST(sa2 AS DECIMAL(18,0))
                        * CAST(sb2 AS DECIMAL(18,0))) AS DOUBLE)
              / CAST(c2 * CAST(sa2 + sb2 AS DECIMAL(18,0))
                     - CAST(2 AS DECIMAL(18,0))
                       * CAST(sa2 AS DECIMAL(18,0))
                       * CAST(sb2 AS DECIMAL(18,0)) AS DOUBLE)
              * 1000000.0) AS BIGINT) END AS ari_micro,
       CASE WHEN sqrt(CAST(ha_micro AS DOUBLE) * CAST(hb_micro AS DOUBLE))
                 = 0 THEN 0
            ELSE CAST(ROUND(CAST(mi_micro AS DOUBLE)
              / sqrt(CAST(ha_micro AS DOUBLE) * CAST(hb_micro AS DOUBLE))
              * 1000000.0) AS BIGINT) END AS nmi_micro
FROM fin
""",
    doc="External clustering validity: exact-integer Adjusted Rand "
        "Index and micro-quantized NMI between the verified near-dup "
        "clustering and the source partition, from one contingency "
        "agg; the oracle replays the identical closure + arithmetic.",
)


# ---------------------------------------------------------------------------
# interval_union_coverage (r11): per-user union length of overlapping
# activity intervals (event start + value-minutes duration) — the
# sweep-line-as-window idiom (prefix max of interval ends) that powers
# uptime/SLA/active-time analytics. Entirely integer epoch-microsecond
# arithmetic after one quantized duration round, so the per-user
# coverage and merged-interval census are oracle-exact. One window over
# (user, start) — the same shuffle sessionization already pays.
# ---------------------------------------------------------------------------

def _interval_union(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = e.select("user_id", "event_id", us.alias("s"),
                  (us + F.round(F.col("value") * F.lit(60.0)).cast("long")
                   * F.lit(1000000)).alias("t"))
    w = (Window.partitionBy("user_id").orderBy("s", "t", "event_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    x = iv.withColumn("pm", F.max("t").over(w))
    covered = F.greatest(
        F.col("t") - F.greatest(F.col("s"),
                                F.coalesce(F.col("pm"), F.col("s"))),
        F.lit(0).cast("long"))
    new_iv = F.when(F.col("pm").isNull() | (F.col("s") > F.col("pm")),
                    F.lit(1)).otherwise(F.lit(0))
    return (x.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(new_iv).cast("long").alias("n_merged_intervals"),
                  F.sum(covered).cast("long").alias("coverage_us"))
             .transform(_sorted1, "user_id"))


register(
    "interval_union_coverage",
    _interval_union,
    """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS s,
         epoch_us(ts::TIMESTAMP)
           + CAST(ROUND(value * 60.0) AS BIGINT) * 1000000 AS t
  FROM events),
x AS (
  SELECT user_id, s, t,
         MAX(t) OVER (PARTITION BY user_id ORDER BY s, t, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_merged_intervals,
       CAST(SUM(GREATEST(t - GREATEST(s, COALESCE(pm, s)), 0))
            AS BIGINT) AS coverage_us
FROM x GROUP BY user_id ORDER BY user_id
""",
    doc="Sweep-line interval union per user (prefix-max window): exact "
        "integer coverage and merged-interval counts over overlapping "
        "event durations.",
)


# ---------------------------------------------------------------------------
# series_ohlc_downsample (r11): chart decimation for the serving
# surface (the reference ships a chart dashboard — SURVEY §3.3): each
# (event_type, hour-bucket) keeps open/high/low/close + count + an
# exact cent sum, the standard lossy-but-faithful downsample that
# bounds any dashboard payload to |series|×|buckets| rows no matter
# the corpus size. Every survivor is an argmin/argmax with a
# deterministic (value, ts, event_id) tiebreak, and money is exact
# integer cents — fully oracle-replayable. One combinable agg over
# the fact scan; no window over the corpus.
# ---------------------------------------------------------------------------

def _series_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.round(F.col("value") * 100).cast("long")
    b = (e.select(F.col("event_type"),
                  (us / F.lit(3600000000)).cast("long").alias("bucket"),
                  us.alias("us"), F.col("event_id"), cents.alias("cents")))
    # open = cents of the (us, event_id)-min row; close = of the max;
    # high/low = extreme cents with (us, event_id) tiebreak — all via
    # struct min/max so one combinable agg does everything.
    return (b.groupBy("event_type", "bucket")
             .agg(F.min(F.struct("us", "event_id", "cents"))["cents"]
                   .alias("open_cents"),
                  F.max(F.struct("us", "event_id", "cents"))["cents"]
                   .alias("close_cents"),
                  F.max(F.struct("cents", "us", "event_id"))["cents"]
                   .alias("high_cents"),
                  F.min(F.struct("cents", "us", "event_id"))["cents"]
                   .alias("low_cents"),
                  F.count(F.lit(1)).alias("n_points"),
                  F.sum("cents").alias("sum_cents"))
             .transform(_sorted1, "event_type", "bucket"))


register(
    "series_ohlc_downsample",
    _series_ohlc,
    """
WITH b AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts::TIMESTAMP) / 3600000000) AS BIGINT)
           AS bucket,
         epoch_us(ts::TIMESTAMP) AS us, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket
           ORDER BY us, event_id) AS r_open,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket
           ORDER BY us DESC, event_id DESC) AS r_close,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket
           ORDER BY cents DESC, us DESC, event_id DESC) AS r_high,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket
           ORDER BY cents, us, event_id) AS r_low
  FROM b)
SELECT event_type, bucket,
       MAX(CASE WHEN r_open = 1 THEN cents END) AS open_cents,
       MAX(CASE WHEN r_close = 1 THEN cents END) AS close_cents,
       MAX(CASE WHEN r_high = 1 THEN cents END) AS high_cents,
       MAX(CASE WHEN r_low = 1 THEN cents END) AS low_cents,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM r GROUP BY event_type, bucket
ORDER BY event_type, bucket
""",
    doc="OHLC chart decimation per (series, hour): open/high/low/close "
        "by struct-ordered argmin/argmax with deterministic tiebreaks, "
        "exact cent sums; payload bounded by series x buckets.",
)
