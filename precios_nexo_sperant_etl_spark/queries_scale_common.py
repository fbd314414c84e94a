"""Shared plumbing for the queries_scale_* family modules: the
original queries_scale.py header — session/table access, the portable
DuckDB hash-fold snippets that keep Spark/DuckDB doubles and hashes
bit-identical, and the operator imports every part uses.

queries_scale.py grew to 14k lines by r8; r9 split it into four parts
at registration boundaries, by contiguous position rather than by theme,
because the file grew chronologically with families interleaved.
Registration order no longer matters: ``registry.queries()`` is ordered
from the stamp ledger (``tools/stamp_ledger.json``).
"""

from __future__ import annotations

__all__ = [
    "Column",
    "DataFrame",
    "F",
    "HASH_P",
    "LANG_PROFILES",
    "STOPWORDS",
    "SparkSession",
    "_DUCK_HS",
    "_DUCK_SHINGLES",
    "_DUCK_TOKENS",
    "_duck_char_hash",
    "_duck_dot",
    "_duck_md5_hash",
    "_scratch_dir",
    "_sorted1",
    "_spread",
    "_t",
    "attach_binary",
    "cosine_topk",
    "duck_bround",
    "duck_lsh_bucket_expr",
    "embedding_neardup_lsh",
    "exact_dedup",
    "exact_dedup_survivors",
    "extract_features",
    "fingerprint",
    "ivf_cosine_topk",
    "lang_id",
    "minhash_dedup_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "paragraph_dedup",
    "quality_score",
    "redact_pii",
    "register",
    "repetition_stats",
    "sessionize",
    "simhash",
    "simhash_near_pairs",
    "sliding_agg",
    "text_stats",
    "token_counts",
    "top_terms",
    "tumbling_agg",
]

import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup_fuzzy import (exact_dedup, exact_dedup_survivors,
                                    minhash_dedup_pairs, minhash_signatures,
                                    ngram_jaccard_pairs, simhash,
                                    simhash_near_pairs)
from .operators.multimodal import attach_binary, extract_features
from .operators.similarity import (cosine_topk, duck_lsh_bucket_expr,
                                   embedding_neardup_lsh, ivf_cosine_topk)
from .operators.text import (HASH_P, LANG_PROFILES, STOPWORDS, fingerprint,
                             lang_id, paragraph_dedup, quality_score, redact_pii,
                             repetition_stats, text_stats, token_counts,
                             top_terms)
from .operators.windows import sessionize, sliding_agg, tumbling_agg
from .oracle_util import duck_bround
from .registry import register
from .sources.tables import table as _t


# ---- portable SQL snippets (DuckDB side of the shared hash folds) ---------

def _duck_char_hash(s: str) -> str:
    """DuckDB twin of text.char_hash_expr: identical left fold."""
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(range(1, length({s}) + 1), "
            f"i -> CAST(ascii(substr({s}, i, 1)) AS BIGINT))), "
            f"(a, c) -> (a * 31 + c) % {HASH_P})")


def _duck_md5_hash(s: str) -> str:
    """DuckDB twin of text.md5_hash: 48-bit int from the md5 hex prefix."""
    return f"('0x' || substr(md5({s}), 1, 12))::BIGINT"


_DUCK_TOKENS = "string_split_regex(trim(text), '\\s+')"

_DUCK_SHINGLES = (
    "CASE WHEN len(tk) >= 3 THEN "
    "list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) "
    "ELSE CAST([] AS VARCHAR[]) END"
)


def _duck_dot(a: str, b: str) -> str:
    """DuckDB twin of functions.exact.ddot: sequential double fold."""
    return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, len({a}) + 1), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
            f"(x, y) -> x + y)")


_DUCK_HS = f"""
toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
shs AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM toks),
hs AS (SELECT DISTINCT doc_id, {_duck_md5_hash('s')} AS h FROM shs)
"""


def _sorted1(df, *cols):
    """Total-order an audit-sized result without ``orderBy``'s
    range-exchange SAMPLING pass. ``orderBy`` plans an
    ``Exchange rangepartitioning`` whose partition-bounds sampling job
    re-executes the child subtree; when that subtree is an opaque
    Python stage (mapInPandas/applyInPandas codec work), every
    expensive batch runs TWICE per action (measured with a sleep
    probe: 3.39 s orderBy vs 1.67 s this shape on an 8×1 s map; see
    OPTIMIZATION_r11.md). Shuffling the audit-sized output to one
    partition and sorting there executes the Python stage once and
    yields the same totally-ordered rows. Applied only where the
    result is audit-sized (≤ corpus row count at bench scale); the
    100 TB gear for corpus-sized results is write-unsorted or a
    known-bounds range partition — documented, not silently assumed.
    Shared implementation (with the ``SPARK_GRAFT_SERIAL_SORT_GUARD``
    debug fallback): :mod:`..operators.sortutil`.
    """
    from .operators.sortutil import final_sort
    return final_sort(df, *cols)


def _scratch_dir(prefix: str, sf: str) -> str:
    """An empty ``<tempdir>/<prefix><abspath(sf), "/" → "_">`` directory:
    one per query and input, wiped and reused by the next run instead of
    a new ``mkdtemp`` per run. The returned frame reads these files
    lazily, so the query cannot remove them, and stream checkpoints
    must not carry over from an earlier run. Two concurrent runs of one
    query on one input would share it."""
    path = os.path.join(tempfile.gettempdir(), prefix
                        + os.path.abspath(sf).strip("/").replace("/", "_"))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _spread(df, key, n_groups):
    """Pre-partition by the group key ahead of ``groupBy(key)
    .applyInPandas``. AQE's byte-targeted coalescing folds tiny
    per-group shuffle partitions into ONE and serializes grouped
    Python stages (cost per GROUP, not per byte: 16 sleep(2) groups
    measured 38.8s coalesced vs 5.5s not). A user-specified
    ``repartition(n, key)`` is exempt from coalescing and the
    downstream grouping REUSES the partitioning (no second Exchange),
    so the Python work parallelizes while every other stage in the
    query keeps coalescing's small-task savings — the per-site fix the
    session keeps coalescing ON for (see ``session.configure``).
    Width is exactly ``n_groups``: hash collisions leave ~2 groups in
    a few tasks, but measured A/B (avro shards at width 1×/2×/4× =
    0.95/1.24/1.74 s) shows task overhead beats the tail-parallelism
    gain at larger widths."""
    return df.repartition(int(n_groups), key)
