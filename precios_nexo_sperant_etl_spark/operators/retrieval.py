"""Hybrid retrieval: sparse (inverted-index token overlap) ranking and
reciprocal-rank fusion of ranked lists.

Beyond-reference surface. The production shape of LLM-era search is
hybrid: a dense ANN ranking (``similarity.cosine_topk`` /
``ivf_cosine_topk``) fused with a sparse lexical ranking, usually via
Reciprocal Rank Fusion (RRF, Cormack et al. 2009) — rank-based, so the
two scorers need no score calibration against each other, which is
exactly why it is the default fusion in Elasticsearch/OpenSearch/Vespa.

Scale shape: the sparse ranking is an inverted-index JOIN keyed by term
— the posting list — with document-frequency pruning so stop-ish terms
(df above a fixed fraction of the corpus) never enter the join; without
the prune a single 50%-df token joins half the corpus against every
probe. The dense side broadcasts the (tiny) probe set. Fusion itself
touches only the two top-k tables: |probes| × k rows each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sortutil import final_sort
from .spread import fanout_by
from .text import md5_hash, tokens


def term_sets(docs: DataFrame, ngram: int = 1, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Distinct ``(did, term)`` pairs per document: whitespace unigrams
    (``ngram=1``) or space-joined word bigrams (``ngram=2``) — the
    shingle unit of lexical retrieval.

    Both shapes are fully NARROW: the term set is built per row inside
    array expressions (``array_distinct`` before the explode gives the
    per-document distinct, and distinct-per-(did,term) equals global
    distinct when ids are unique — ids here are the document key) so no
    shuffle is ever needed. The r6 bigram form routed through
    posexplode + a ``lead`` window keyed by a row tag + a global
    ``.distinct()`` — two corpus-wide shuffles that the r7 plan diet
    removed. The bigram array itself is ``zip_with`` over two slices
    (r11): the r7 indexed-``transform`` + ``element_at`` form measured
    4× slower at sf0.1 (3.1s → 0.8s on the bm25 posting build) —
    ``element_at`` re-dereferences the array per element inside the
    lambda, while ``zip_with`` walks both slices linearly.

    Blank text yields ``['']`` from ``tokens`` (so no bigram and an
    empty unigram, filtered); interior empty tokens cannot occur
    (``tokens`` splits on runs of whitespace).
    """
    if ngram not in (1, 2):
        raise ValueError(f"ngram must be 1 or 2, got {ngram}")
    tk = tokens(F.col(text_col))
    if ngram == 1:
        terms = F.array_distinct(F.filter(tk, lambda x: x != ""))
    else:
        base = docs.select(F.col(id_col).alias("did"), tk.alias("_tk"))
        bigrams = F.expr(
            "zip_with(slice(_tk, 1, size(_tk) - 1),"
            " slice(_tk, 2, size(_tk) - 1), (a, b) -> concat(a, ' ', b))")
        return base.select("did",
                           F.explode(F.array_distinct(bigrams)).alias("term"))
    return (docs.select(F.col(id_col).alias("did"), terms.alias("_terms"))
                .select("did", F.explode("_terms").alias("term")))


def sparse_overlap_topk(docs: DataFrame, query_ids: list[int], k: int = 20,
                        df_prune_den: int = 10, text_col: str = "text",
                        id_col: str = "doc_id", ngram: int = 1) -> DataFrame:
    """Top-``k`` lexical matches per probe document: candidates ranked by
    the count of shared distinct terms (overlap desc, candidate id asc),
    where a term is a word unigram or, with ``ngram=2``, a word bigram
    shingle — the right unit when the unigram vocabulary is so small
    that every word is a stopword (df pruning then removes everything).

    The term join runs only over terms with ``df * df_prune_den <= N``
    (document frequency at most 1/df_prune_den of the corpus) — the
    posting-list prune that keeps the join linear in the number of
    *discriminative* term occurrences. Plan shape (the r7 diet; the r6
    form built the posting list, the df table and the probe terms as
    three independent full-corpus explode+window+distinct subtrees —
    28 shuffles, 78 stages):

    - the prune ships as a broadcast STOP-LIST anti join, not a kept
      semi join: terms over the df threshold number at most
      ``df_prune_den × avg distinct terms per doc`` (each stop term
      has df > N/den, and total (did, term) rows are N × the average,
      so fewer than den × average terms can exceed it) — bounded by
      document shape, NOT corpus size, hence broadcastable at any
      scale, while the kept vocabulary grows with the corpus.
    - the corpus-side posting subtree is explode → broadcast-anti →
      broadcast-probe-join → partial-agg: the corpus-sized table never
      shuffles on term, so a hot 10%-df term can never pin one task
      (the skew class a ``count over (partition by term)`` window
      df would reintroduce).
    - the df aggregation recomputes the narrow explode rather than
      persisting it: at scale, re-running a map-only subtree beats
      materializing an exploded 100-TB corpus; map-side combine means
      only vocabulary-sized partials shuffle.
    - the probe side filters ``docs`` by ``id_col`` FIRST (a scan-level
      pushdown; |probes| rows) and explodes only those rows, so probe
      terms never touch the corpus-sized subtree. A probe term in the
      stop-list still scores (overlap counts the unpruned posting rows
      it reaches — zero, exactly as the r6 kept-vocabulary form).

    Integer scoring end-to-end; ties broken by candidate id.
    """
    # r12: spread the CPU-dense tokenize/explode subtrees to core width
    # keyed by document id (one scan task at bench scale otherwise);
    # the overlap groupBy (query_id, did) reuses the did clustering.
    docs = fanout_by(docs, id_col)
    toks = term_sets(docs, ngram=ngram, text_col=text_col, id_col=id_col)
    stop = (toks.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
                .crossJoin(F.broadcast(
                    docs.select(F.count(F.lit(1)).alias("_n"))))
                .where(F.col("_df") * df_prune_den > F.col("_n"))
                .select("term"))
    pruned = toks.join(F.broadcast(stop), "term", "left_anti")
    probes = (term_sets(docs.where(F.col(id_col).isin(query_ids)),
                        ngram=ngram, text_col=text_col, id_col=id_col)
              .select(F.col("did").alias("query_id"), "term"))
    scored = (pruned.join(F.broadcast(probes), "term")
                    .where(F.col("did") != F.col("query_id"))
                    .groupBy("query_id", F.col("did").alias("neighbor_id"))
                    .agg(F.count(F.lit(1)).cast("int").alias("overlap")))
    w = (Window.partitionBy("query_id")
               .orderBy(F.desc("overlap"), F.asc("neighbor_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .transform(final_sort, "query_id", "rank"))


def rrf_fuse(a: DataFrame, b: DataFrame, k0: int = 60,
             topk: int = 10) -> DataFrame:
    """Reciprocal Rank Fusion of two ranked lists.

    Both inputs carry ``(query_id, neighbor_id, rank)``; the fused score
    is ``1/(k0 + rank_a) + 1/(k0 + rank_b)`` with a missing ranking
    contributing 0 (full outer join over the candidate union). Each term
    is one correctly-rounded double division and the sum is written in a
    fixed order, so the score — and the final ranking, tie-broken by
    neighbor id — is engine-exact. ``k0 = 60`` is the constant from the
    original RRF paper.
    """
    ra = a.select("query_id", "neighbor_id", F.col("rank").alias("rank_a"))
    rb = b.select("query_id", "neighbor_id", F.col("rank").alias("rank_b"))
    fused = (ra.join(rb, ["query_id", "neighbor_id"], "full_outer")
               .select("query_id", "neighbor_id", "rank_a", "rank_b",
                       (F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("rank_a")),
                                   F.lit(0.0))
                        + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("rank_b")),
                                     F.lit(0.0))).alias("rrf_score")))
    w = (Window.partitionBy("query_id")
               .orderBy(F.desc("rrf_score"), F.asc("neighbor_id")))
    return (fused.withColumn("fused_rank", F.row_number().over(w))
                 .filter(F.col("fused_rank") <= topk)
                 .transform(final_sort, "query_id", "fused_rank"))


def negative_samples(docs: DataFrame, n_buckets: int = 64, k: int = 2,
                     id_col: str = "doc_id",
                     strat_col: str = "source") -> DataFrame:
    """``k`` deterministic cross-``strat_col`` negatives per anchor
    document — the training-pair miner for contrastive objectives
    (a negative must come from a different source than its anchor, the
    usual proxy for "semantically unrelated").

    Construction, all hash arithmetic: candidates land in
    ``hash(id) % n_buckets`` buckets ordered within the bucket by the
    remaining hash bits; each anchor probes bucket
    ``hash(j, id) % n_buckets`` for draw j. The bucket's representative
    is its hash-minimal candidate (``min1``); if that shares the
    anchor's stratum, the hash-minimal candidate of any OTHER stratum
    (``min2``) substitutes — by construction ``min2``'s stratum differs
    from ``min1``'s, so the substitute is always valid. A probe into an
    empty bucket (or a bucket whose every candidate shares the anchor's
    stratum with no fallback) yields a NULL negative, reported rather
    than silently dropped — size ``n_buckets`` for the corpus so this
    stays a measure-zero event.

    Scale shape: the representative table is two group-bys down to
    ``<= n_buckets * |strata|`` rows and the anchor side joins it
    BROADCAST — the fact table never shuffles, no window touches it,
    and draw quality is hash-uniform. Collisions (two anchors probing
    one bucket share a negative) are the accepted trade for that plan;
    grow ``n_buckets`` with the corpus to bound them.
    """
    cand = (docs.select(
                F.col(id_col).alias("cand_id"),
                F.col(strat_col).alias("cand_strat"),
                md5_hash(F.concat(F.lit("nc:"),
                                  F.col(id_col).cast("string"))).alias("_h"))
                .select("cand_id", "cand_strat",
                        F.pmod(F.col("_h"), F.lit(n_buckets)).alias("bucket"),
                        F.expr(f"_h div {n_buckets}").alias("ord")))
    per_bs = (cand.groupBy("bucket", "cand_strat")
                  .agg(F.min(F.struct("ord", "cand_id")).alias("_m"))
                  .select("bucket", "cand_strat",
                          F.col("_m.ord").alias("ord"),
                          F.col("_m.cand_id").alias("cand_id")))
    m1 = (per_bs.groupBy("bucket")
                .agg(F.min(F.struct("ord", "cand_id", "cand_strat"))
                      .alias("_m"))
                .select("bucket", F.col("_m.cand_id").alias("m1_id"),
                        F.col("_m.cand_strat").alias("m1_strat")))
    m2 = (per_bs.join(m1, "bucket")
                .where(F.col("cand_strat") != F.col("m1_strat"))
                .groupBy("bucket")
                .agg(F.min(F.struct("ord", "cand_id", "cand_strat"))
                      .alias("_m"))
                .select("bucket", F.col("_m.cand_id").alias("m2_id"),
                        F.col("_m.cand_strat").alias("m2_strat")))
    reps = m1.join(m2, "bucket", "left")
    probes = docs.select(
        F.col(id_col).alias("anchor_id"),
        F.col(strat_col).alias("anchor_strat"),
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     F.pmod(md5_hash(F.concat(F.lit(f"nb:{j}:"),
                                              F.col(id_col).cast("string"))),
                            F.lit(n_buckets)).alias("bucket"))
            for j in range(k)])).alias("_p")) \
        .select("anchor_id", "anchor_strat", "_p.j", "_p.bucket")
    fallback = F.col("m1_strat") == F.col("anchor_strat")
    return (probes.join(F.broadcast(reps), "bucket", "left")
                  .select("anchor_id", "anchor_strat", "j",
                          F.when(fallback, F.col("m2_id"))
                           .otherwise(F.col("m1_id")).alias("neg_id"),
                          F.when(fallback, F.col("m2_strat"))
                           .otherwise(F.col("m1_strat")).alias("neg_strat"),
                          F.coalesce(fallback, F.lit(False))
                           .alias("used_fallback"))
                  .transform(final_sort, "anchor_id", "j"))


def term_freqs(docs: DataFrame, ngram: int = 2, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Non-distinct term occurrences aggregated to ``(did, term, tf)``
    — the posting list WITH frequencies that BM25 needs (contrast
    :func:`term_sets`, whose distinct pairs make every tf 1). One
    shuffle keyed (did, term) with map-side combine; the explode
    itself is narrow."""
    if ngram not in (1, 2):
        raise ValueError(f"ngram must be 1 or 2, got {ngram}")
    tk = tokens(F.col(text_col))
    if ngram == 1:
        terms = F.filter(tk, lambda x: x != "")
    else:
        terms = F.expr(
            "zip_with(slice(_tk, 1, size(_tk) - 1),"
            " slice(_tk, 2, size(_tk) - 1), (a, b) -> concat(a, ' ', b))")
        return (docs.select(F.col(id_col).alias("did"), tk.alias("_tk"))
                    .select("did", F.explode(terms).alias("term"))
                    .groupBy("did", "term")
                    .agg(F.count(F.lit(1)).cast("int").alias("tf")))
    return (docs.select(F.col(id_col).alias("did"), terms.alias("_terms"))
                .select("did", F.explode("_terms").alias("term"))
                .groupBy("did", "term")
                .agg(F.count(F.lit(1)).cast("int").alias("tf")))


def bm25_topk(docs: DataFrame, query_ids: list[int], k: int = 10,
              k1: float = 1.2, b: float = 0.75, df_prune_den: int = 10,
              text_col: str = "text", id_col: str = "doc_id",
              ngram: int = 2) -> DataFrame:
    """Okapi BM25 top-``k`` per probe document — the canonical sparse
    ranking function of Lucene-class search engines, with the
    Lucene-style non-negative idf ``ln(1 + (N - df + .5)/(df + .5))``.

    Engine-exact determinism, the module's usual discipline: document
    length ``dl`` is computed NARROWLY as ``size(tokens) - 1`` (no
    per-doc shuffle), ``avgdl`` is a ratio of exact integer sums, each
    term's contribution is one fixed-order double expression, and the
    per-pair score folds contributions in lexicographic term order
    (sort_array + aggregate — the float sum is order-pinned). One
    hazard remains: ``ln`` itself is libm-implementation territory
    (measured: a single 1-ulp JVM-vs-DuckDB divergence across the
    sf0.01 posting set), so the PUBLISHED score is the micro-quantized
    integer ``bm25_micro = round(score * 1e6)`` and the ranking orders
    by it — 1-ulp noise (~4e-16 relative) cannot move a 1e-6 quantum
    except at engineered boundaries, and ties break by neighbor id
    identically in both engines. Scale shape mirrors
    ``sparse_overlap_topk``: the corpus-side posting table NEVER
    shuffles on term — the tf build is one combined map-side shuffle
    on (did, term) that carries ``dl`` for free (functionally
    dependent on the doc key), and everything keyed by term reaches it
    as a broadcast: the stop list (bounded by document shape, see
    sparse_overlap_topk), the probe terms, and the df table FILTERED
    TO PROBE TERMS (|probe terms| rows). A plain
    ``posting.join(dfs, "term")`` instead would be a vocab-sized
    shuffle join with hot-term skew — the r11 plan audit caught
    exactly that shape and this ordering removed it.
    """
    # r12: cluster the whole corpus side by document id at core width
    # BEFORE tokenization. The tokenize+bigram projection is CPU-dense
    # and ran in the scan's split count (one task on a single-file
    # bench table — 0.53 s serial of the 1.56 s query); and
    # hashpartitioning(did) satisfies both the tf groupBy's
    # (did, dl, term) clustering and the scoring fold's
    # (query_id, neighbor_id=did) clustering, so the posting build and
    # the per-pair fold run with NO additional exchange — only the
    # vocab df aggregation still shuffles on term. (Same clustered-
    # pipeline shape as dedup_fuzzy.shingle_hashes.)
    docs_w = fanout_by(docs, id_col)
    tk = tokens(F.col(text_col))
    if ngram == 1:
        terms = F.filter(tk, lambda x: x != "")
        dl_expr = F.size(terms)
        base = docs_w.select(F.col(id_col).alias("did"),
                             dl_expr.alias("dl"), terms.alias("_terms"))
    else:
        bigrams = F.expr(
            "zip_with(slice(_tk, 1, size(_tk) - 1),"
            " slice(_tk, 2, size(_tk) - 1), (a, b) -> concat(a, ' ', b))")
        base = (docs_w.select(F.col(id_col).alias("did"), tk.alias("_tk"))
                      .select("did",
                              F.greatest(F.size(F.col("_tk")) - 1,
                                         F.lit(0)).alias("dl"),
                              bigrams.alias("_terms")))
    posting = (base.select("did", "dl", F.explode("_terms").alias("term"))
                   .groupBy("did", "dl", "term")
                   .agg(F.count(F.lit(1)).cast("int").alias("tf")))
    # Two consumers (df aggregation + the scoring join) — persist so
    # the explode+combine runs once; same cache-lifetime contract as
    # the LSH shingle frames (callers / the parity harness clearCache
    # between queries).
    posting = posting.persist()
    stats = (base.where(F.col("dl") >= 1)
                 .agg(F.sum("dl").alias("_sdl"),
                      F.count(F.lit(1)).alias("_ndl"))
                 .crossJoin(docs.agg(F.count(F.lit(1)).alias("_n")))
                 .select((F.col("_sdl").cast("double")
                          / F.col("_ndl").cast("double")).alias("avgdl"),
                         F.col("_n").alias("n_docs")))
    dfs = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stop = (dfs.crossJoin(F.broadcast(
                docs.select(F.count(F.lit(1)).alias("_n"))))
               .where(F.col("df") * df_prune_den > F.col("_n"))
               .select("term"))
    probes = (term_sets(docs.where(F.col(id_col).isin(query_ids)),
                        ngram=ngram, text_col=text_col, id_col=id_col)
              .select(F.col("did").alias("query_id"), "term"))
    dfs_probe = dfs.join(
        F.broadcast(probes.select("term").distinct()), "term")
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs").cast("double")
                   - F.col("df").cast("double") + F.lit(0.5))
                / (F.col("df").cast("double") + F.lit(0.5)))
    tf_d = F.col("tf").cast("double")
    norm = (tf_d * F.lit(k1 + 1.0)
            / (tf_d + F.lit(k1)
               * (F.lit(1.0 - b)
                  + F.lit(b) * F.col("dl").cast("double")
                  / F.col("avgdl"))))
    contrib = (idf * norm).alias("contrib")
    scored = (posting.join(F.broadcast(stop), "term", "left_anti")
                     .join(F.broadcast(probes), "term")
                     .where(F.col("did") != F.col("query_id"))
                     .join(F.broadcast(dfs_probe), "term")
                     .crossJoin(F.broadcast(stats))
                     .select("query_id", F.col("did").alias("neighbor_id"),
                             "term", contrib))
    folded = (scored.groupBy("query_id", "neighbor_id")
              .agg(F.aggregate(
                   F.transform(
                       F.sort_array(F.collect_list(
                           F.struct("term", "contrib"))),
                       lambda s: s["contrib"]),
                   F.lit(0.0), lambda acc, x: acc + x)
                   .alias("_score"))
              .select("query_id", "neighbor_id",
                      F.round(F.col("_score") * F.lit(1000000.0))
                       .cast("long").alias("bm25_micro")))
    w = (Window.partitionBy("query_id")
               .orderBy(F.desc("bm25_micro"), F.asc("neighbor_id")))
    return (folded.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .transform(final_sort, "query_id", "rank"))
