"""Behavioral tests for fuzzy dedup and similarity search: planted
near-duplicates must be found; approximate variants are measured against
exact baselines."""

from pyspark.sql import functions as F

from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
    exact_dedup, minhash_dedup_pairs, ngram_jaccard_pairs, simhash_near_pairs)
from precios_nexo_sperant_etl_spark.operators.similarity import (cosine_topk,
                                                                 ivf_cosine_topk,
                                                                 lsh_cosine_topk)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (2, "completely different text about spark query engines and column pruning"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (4, "unrelated words form this sentence with no overlap whatsoever at all"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = exact_dedup(_docs(spark)).collect()
    dup = [r for r in out if r["n_copies"] == 2]
    assert len(dup) == 1 and dup[0]["keeper_id"] == 0  # docs 0 and 3 identical
    assert len(out) == 4


def test_minhash_finds_planted_neardups(spark):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             minhash_dedup_pairs(_docs(spark), threshold=0.5).collect()}
    assert (0, 3) in pairs          # identical
    assert (0, 1) in pairs          # one-word edit
    assert (0, 2) not in pairs and (0, 4) not in pairs


def test_ngram_jaccard_ordering(spark):
    rows = ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    assert j[(0, 3)] == 1.0
    assert 0.5 <= j[(0, 1)] < 1.0


def test_simhash_identical_docs_distance_zero(spark):
    rows = simhash_near_pairs(_docs(spark), max_hamming=3).collect()
    d = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    assert d[(0, 3)] == 0


def test_ivf_cosine_recall_against_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, qids, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_cosine_topk(emb, qids, k=3, n_probe=2).collect()}
    assert len(approx) == len(exact)  # still returns k per query
    # The synthetic labels are not geometric clusters, so recall sits near
    # the n_probe/n_cells floor (2/10) — assert it doesn't collapse BELOW
    # that floor; with real k-means cells it climbs toward 1.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.15, f"IVF recall below random floor: {recall}"
    # full-probe IVF must converge to the exact answer
    full = {(r["query_id"], r["neighbor_id"])
            for r in ivf_cosine_topk(emb, qids, k=3, n_probe=10).collect()}
    assert full == exact


def test_lsh_cosine_recall_against_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2]
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, qids, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in lsh_cosine_topk(emb, qids, k=5).collect()}
    # LSH only scores same-bucket vectors: sane recall, never garbage
    assert len(approx) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"LSH recall collapsed: {recall}"
    # every LSH result must be a genuine neighbor of its query
    assert all(q in qids for q, _ in approx)


def test_simhash_banding_lossless_vs_allpairs(spark):
    """Pigeonhole banding must find EXACTLY the pairs the O(n²) oracle
    finds — banding is a candidate filter, never an approximation."""
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        simhash_near_pairs_allpairs)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    banded = {tuple(r) for r in simhash_near_pairs(docs).collect()}
    allpairs = {tuple(r) for r in simhash_near_pairs_allpairs(docs).collect()}
    assert banded == allpairs and banded


def test_simhash_banded_plan_has_no_cross_join(spark):
    """The scale guarantee: candidate generation is a bucket equi-join;
    an all-pairs cross join must never appear in the physical plan."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = simhash_near_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_unequal_chunk_widths_lossless(spark):
    """max_hamming values that don't divide the signature width (e.g. 2
    chunks of 6+5+5 bits over 16) must still be exact — pigeonhole needs
    max_hamming+1 nonzero chunks, not equal ones."""
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        simhash_near_pairs_allpairs)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    banded = {tuple(r) for r in
              simhash_near_pairs(docs, max_hamming=2).collect()}
    allpairs = {tuple(r) for r in
                simhash_near_pairs_allpairs(docs, max_hamming=2).collect()}
    assert banded == allpairs and banded


def test_simhash_max_hamming_exceeding_bits_raises(spark):
    import pytest

    with pytest.raises(ValueError, match="non-empty chunks"):
        simhash_near_pairs(_docs(spark), max_hamming=16, n_bits=16)


def test_minhash_prod_config_recall(spark):
    """Production LSH shape (128 perms / 16 bands of 8) must dominate the
    toy config: every toy-found pair is found, and recall against the
    exhaustive shared-shingle Jaccard baseline is ≥ the toy's. The
    verified outputs are all subsets of the exhaustive truth (the
    Jaccard-verify stage guarantees precision = 1 for all configs)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exhaustive = {(r["doc_a"], r["doc_b"])
                  for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    toy = {(r["doc_a"], r["doc_b"])
           for r in minhash_dedup_pairs(docs, threshold=0.2).collect()}
    prod = {(r["doc_a"], r["doc_b"])
            for r in minhash_dedup_pairs(docs, threshold=0.2, n_perms=128,
                                         n_bands=16).collect()}
    assert toy <= exhaustive and prod <= exhaustive  # precision 1 by verify
    assert toy <= prod                               # prod dominates toy
    assert len(prod) >= len(toy)
    # the 16×8 S-curve should catch essentially everything ≥ 0.2 here
    assert len(prod) / max(len(exhaustive), 1) >= 0.9, (len(prod), len(exhaustive))


def test_embedding_neardup_lsh_recall(spark):
    """LSH sign-bucket near-dup must be a subset of the exact pairs
    (precision 1 — the cosine verify runs on every candidate) and must
    catch most planted high-cosine pairs (recall (1-θ/π)^planes ≈ 0.76
    at cosine 0.99 with 6 planes)."""
    import math

    from precios_nexo_sperant_etl_spark.operators.similarity import (
        embedding_neardup_lsh, embedding_neardup_pairs)

    dim = 16
    base = [[math.sin(i * 0.7 + j) for j in range(dim)] for i in range(20)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v))
        # planted near-dup: tiny deterministic perturbation (cos ≈ 0.999)
        rows.append((2 * i + 1, [x + 0.01 * ((j % 3) - 1)
                                 for j, x in enumerate(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["vec_a"], r["vec_b"])
             for r in embedding_neardup_pairs(emb, threshold=0.95).collect()}
    approx = {(r["vec_a"], r["vec_b"])
              for r in embedding_neardup_lsh(emb, threshold=0.95).collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(20)}
    assert planted <= exact                     # the baseline finds them all
    assert approx <= exact                      # precision 1
    recall = len(approx & planted) / len(planted)
    assert recall >= 0.5, f"LSH near-dup recall collapsed: {recall}"


def test_minhash_bucket_cap_bounds_degenerate_corpus(spark):
    """A boilerplate-dominated corpus (200 copies of one doc) must not
    explode quadratically: with max_bucket_size set, the degenerate
    buckets are dropped — pair output stays bounded — while recall on
    the organic near-dups is unchanged."""
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        minhash_band_pairs, minhash_signatures)

    boiler = [(1000 + i, "standard legal disclaimer repeated verbatim on "
                         "every single page of the crawl corpus")
              for i in range(200)]
    rows = DOCS + boiler
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs)

    uncapped = minhash_band_pairs(sigs).count()
    capped_pairs = minhash_band_pairs(sigs, max_bucket_size=50)
    capped = {(r["doc_a"], r["doc_b"]) for r in capped_pairs.collect()}

    # uncapped: the 200 identical docs alone produce C(200,2) = 19,900
    assert uncapped >= 19_900
    # capped: every degenerate bucket dropped → bounded output
    assert len(capped) < 100
    assert not any(a >= 1000 and b >= 1000 for a, b in capped)
    # organic near-dups still surface through their small buckets
    assert (0, 3) in capped and (0, 1) in capped


def test_registered_embedding_neardup_is_bucket_join(spark):
    """The user-facing embedding_neardup_pairs query must run the LSH
    bucket equi-join, never the O(n²) all-pairs baseline."""
    from precios_nexo_sperant_etl_spark.registry import queries

    df = queries()["embedding_neardup_pairs"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_bucket_cap_drops_degenerate_buckets(spark):
    """The production guard: a boilerplate mega-bucket is dropped when it
    exceeds max_bucket_size, while selective buckets keep pairing."""
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        minhash_band_pairs, minhash_signatures)

    # 30 identical boilerplate docs (one mega-bucket in every band) plus
    # one distinct near-dup pair
    rows = [(i, "common boilerplate header repeated on every page here")
            for i in range(30)]
    rows += [(100, "a unique document about spark adaptive execution plans"),
             (101, "a unique document about spark adaptive execution plan")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs)
    uncapped = minhash_band_pairs(sigs).collect()
    capped = minhash_band_pairs(sigs, max_bucket_size=10).collect()
    unc = {(r["doc_a"], r["doc_b"]) for r in uncapped}
    cap = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert (100, 101) in unc and (100, 101) in cap  # selective pair survives
    assert any(a < 30 and b < 30 for a, b in unc)   # mega-bucket paired before
    assert not any(a < 30 and b < 30 for a, b in cap)  # ...and is dropped now
    assert len(cap) < len(unc)


def test_kmeans_ivf_beats_label_cells(spark):
    """The real coarse quantizer must beat the label-column stand-in:
    k-means cells are geometric, so nearest neighbors concentrate in the
    probed cells. Also pins determinism (no RNG anywhere)."""
    from precios_nexo_sperant_etl_spark.operators.similarity import \
        assign_kmeans_cells

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, qids, k=3).collect()}
    km = assign_kmeans_cells(emb, n_cells=10, n_iter=3)
    got = {(r["query_id"], r["neighbor_id"])
           for r in ivf_cosine_topk(km, qids, k=3, cell_col="cell",
                                    n_probe=2).collect()}
    label = {(r["query_id"], r["neighbor_id"])
             for r in ivf_cosine_topk(emb, qids, k=3, n_probe=2).collect()}
    km_recall = len(got & exact) / len(exact)
    label_recall = len(label & exact) / len(exact)
    assert km_recall > label_recall
    assert km_recall >= 0.6, km_recall
    # deterministic: same cells, same answer, every run
    km2 = assign_kmeans_cells(emb, n_cells=10, n_iter=3)
    got2 = {(r["query_id"], r["neighbor_id"])
            for r in ivf_cosine_topk(km2, qids, k=3, cell_col="cell",
                                     n_probe=2).collect()}
    assert got == got2


def test_embedding_neardup_multiprobe_recall_dominates(spark):
    """Multi-probe must strictly extend single-probe candidates (probing
    Hamming-1 buckets rescues one-plane misses) while staying a subset
    of the exact answer."""
    import math

    from precios_nexo_sperant_etl_spark.operators.similarity import (
        embedding_neardup_lsh, embedding_neardup_pairs)

    dim = 16
    rows = []
    for i in range(40):
        v = [math.sin(i * 1.3 + j * 0.5) for j in range(dim)]
        rows.append((2 * i, v))
        rows.append((2 * i + 1, [x + 0.02 * math.cos(j + i) for j, x in enumerate(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["vec_a"], r["vec_b"])
             for r in embedding_neardup_pairs(emb, threshold=0.95).collect()}
    p1 = {(r["vec_a"], r["vec_b"])
          for r in embedding_neardup_lsh(emb, threshold=0.95).collect()}
    p4 = {(r["vec_a"], r["vec_b"])
          for r in embedding_neardup_lsh(emb, threshold=0.95, n_probe=4).collect()}
    assert p1 <= p4 <= exact
    assert len(p4) >= len(p1)
    planted = {(2 * i, 2 * i + 1) for i in range(40)} & exact
    r1 = len(p1 & planted) / len(planted)
    r4 = len(p4 & planted) / len(planted)
    assert r4 >= r1
    assert r4 >= 0.7, (r1, r4)


def test_arrow_ddot_matches_fold_and_is_deterministic(spark):
    """The Arrow/numpy dot product must agree with the sequential fold to
    float tolerance, produce the same top-k ranking on real data, and be
    deterministic across runs."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    fold = cosine_topk(emb, qids, k=3).collect()
    arrow1 = cosine_topk(emb, qids, k=3, use_arrow=True).collect()
    arrow2 = cosine_topk(emb, qids, k=3, use_arrow=True).collect()
    key = lambda rows: [(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows]
    assert key(arrow1) == key(fold)          # same ranking
    assert [r["cosine"] for r in arrow1] == [r["cosine"] for r in arrow2]
    for fa, fb in zip(fold, arrow1):
        assert abs(fa["cosine"] - fb["cosine"]) < 1e-9


def test_paragraph_dedup_keep_first_and_reassembly(spark):
    """Corpus-wide paragraph dedup: first occurrence (doc_id, pos) wins,
    repeats vanish, docs reassemble in original order, all-boilerplate
    docs drop out, whitespace-only paragraphs never count."""
    from precios_nexo_sperant_etl_spark.operators.text import paragraph_dedup
    docs = spark.createDataFrame([
        (0, "alpha beta\nBOILER\ngamma delta"),
        (1, "BOILER\nepsilon zeta\n   \nBOILER"),   # leading boiler + blank + repeat
        (2, "BOILER"),                              # vanishes entirely
        (3, "eta theta\neta theta\niota"),          # intra-doc repeat
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert out[0]["text_dedup"] == "alpha beta\nBOILER\ngamma delta"
    assert (out[0]["n_paras"], out[0]["n_kept"]) == (3, 3)
    # doc 1: BOILER already seen in doc 0; blank line discarded pre-count
    assert out[1]["text_dedup"] == "epsilon zeta"
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (3, 1)
    assert 2 not in out                              # every paragraph seen before
    # doc 3: second "eta theta" is a later occurrence of its own first
    assert out[3]["text_dedup"] == "eta theta\niota"
    assert (out[3]["n_paras"], out[3]["n_kept"]) == (3, 2)


def test_paragraph_dedup_partitioning_independent(spark):
    """Keep-first is (doc_id, pos)-ordered, not partition-ordered: the
    result must be identical under adversarial repartitioning."""
    from precios_nexo_sperant_etl_spark.operators.text import paragraph_dedup
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    a = paragraph_dedup(docs, sep=" the ").orderBy("doc_id").collect()
    b = paragraph_dedup(docs.repartition(17, "text"), sep=" the ") \
        .orderBy("doc_id").collect()
    assert a == b and len(a) > 0


def test_repetition_stats_hand_computed(spark):
    """Gopher repetition signals pinned against hand-computed values:
    'a b a b a b c' = 7 tokens / 3 distinct → dup 4/7; top 2-gram 'a b'
    ×3 covers 9 of 13 chars; top 3-gram 'a b a' ×2 covers 10 of 13."""
    from precios_nexo_sperant_etl_spark.operators.text import repetition_stats
    df = spark.createDataFrame([
        (0, "a b a b a b c"),
        (1, "x y z"),
        (2, "q"),                      # shorter than any n-gram → 0.0
    ], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert abs(rows[0]["dup_token_frac"] - 4 / 7) < 1e-12
    assert abs(rows[0]["top2gram_char_frac"] - 9 / 13) < 1e-12
    assert abs(rows[0]["top3gram_char_frac"] - 10 / 13) < 1e-12
    assert rows[1]["dup_token_frac"] == 0.0
    assert rows[2]["top2gram_char_frac"] == 0.0
    assert rows[2]["top3gram_char_frac"] == 0.0


def test_exact_substring_coverage_hand_computed(spark):
    """ExactSubstr coverage pinned by hand (window=3): overlapping dup
    windows merge into one island; disjoint spans stay two islands;
    within-doc-only repeats do NOT count (cross-doc semantics); docs
    shorter than the window and empty docs report zeros."""
    from precios_nexo_sperant_etl_spark.operators.text import (
        exact_substring_coverage)
    df = spark.createDataFrame([
        (0, "a b c d e f"),        # shares (a b c),(b c d) with doc 1
        (1, "a b c d x y"),
        (2, "p q r s t u v w"),    # nothing shared
        (3, "a b c"),              # its single window is shared → 100%
        (4, "z z"),                # shorter than window
        (5, ""),                   # empty
        (6, "m n o p m n o"),      # repeats (m n o) only within itself
        (7, "a b c j k l m b c d"),  # two disjoint shared spans
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           exact_substring_coverage(df, window=3).collect()}
    assert (out[0]["n_dup_windows"], out[0]["n_spans"],
            out[0]["covered_tokens"]) == (2, 1, 4)   # [1,3]∪[2,4] → [1,4]
    assert abs(out[0]["dup_frac"] - 4 / 6) < 1e-12
    assert out[1]["covered_tokens"] == 4
    assert (out[2]["n_dup_windows"], out[2]["covered_tokens"]) == (0, 0)
    assert out[3]["dup_frac"] == 1.0 and out[3]["n_spans"] == 1
    assert (out[4]["n_tokens"], out[4]["dup_frac"]) == (2, 0.0)
    assert (out[5]["n_tokens"], out[5]["dup_frac"]) == (0, 0.0)
    assert out[6]["n_dup_windows"] == 0              # cross-doc only
    assert (out[7]["n_spans"], out[7]["covered_tokens"]) == (2, 6)


def test_exact_substring_coverage_partitioning_independent(spark):
    """Window collision + island merge are pure functions of the data:
    identical output under adversarial repartitioning on real docs."""
    from precios_nexo_sperant_etl_spark.operators.text import (
        exact_substring_coverage)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    a = exact_substring_coverage(docs, window=8).collect()
    b = exact_substring_coverage(docs.repartition(17, "text"),
                                 window=8).collect()
    assert a == b and len(a) > 0
    assert any(r["n_dup_windows"] > 0 for r in a)    # exact dups exist


def test_blocked_fuzzy_pairs_hand_computed(spark):
    """Blocked levenshtein matching: only within-block pairs compared,
    distance threshold enforced, name_a < name_b canonical order."""
    from precios_nexo_sperant_etl_spark.operators.join import (
        blocked_fuzzy_pairs)
    names = spark.createDataFrame(
        [("cold widget",), ("bold widget",), ("tiny widget",),
         ("cold bolt",), ("gold bolt",), ("cold rod",)],
        "p_name string")
    out = blocked_fuzzy_pairs(names, "p_name",
                              "split_part(p_name, ' ', 2)",
                              max_dist=2).collect()
    got = {(r["name_a"], r["name_b"]): r["dist"] for r in out}
    # widget block: cold~bold dist 1 in; tiny~cold dist 4 out.
    # bolt block: cold~gold dist 1 in. rod block: singleton, no pairs.
    # cold widget ~ cold bolt: different blocks, never compared.
    assert got == {("bold widget", "cold widget"): 1,
                   ("cold bolt", "gold bolt"): 1}


def test_source_temperature_mix_math(spark):
    """α=1/2 temperature mixing on a skewed two-source corpus: 16 vs 4
    docs → sqrt weights 4:2 → target 2/3 vs 1/3; sample_weight is
    target/actual (upsamples the small source)."""
    from precios_nexo_sperant_etl_spark.operators.text import temperature_mix
    docs = spark.createDataFrame(
        [(i, f"doc {i}", "big" if i < 16 else "small")
         for i in range(20)],
        "doc_id long, text string, source string")
    out = {r["source"]: r for r in temperature_mix(docs).collect()}
    assert abs(out["big"]["target_frac"] - 2 / 3) < 1e-12
    assert abs(out["small"]["target_frac"] - 1 / 3) < 1e-12
    assert abs(out["big"]["sample_weight"] - (2 / 3) / 0.8) < 1e-12
    assert abs(out["small"]["sample_weight"] - (1 / 3) / 0.2) < 1e-12


def test_filter_funnel_monotone_and_consistent(spark):
    """The funnel can only shrink: n_in >= n_out per stage, each stage's
    n_in equals the previous stage's n_out, fractions in [0,1]."""
    import precios_nexo_sperant_etl_spark.queries_scale_part2 as qs
    rows = qs._filter_funnel(spark, "/root/testdata/sf0.001").collect()
    assert [r["stage"] for r in rows] == [1, 2, 3]
    for r in rows:
        assert r["n_out"] <= r["n_in"]
        assert r["n_removed"] == r["n_in"] - r["n_out"]
        assert 0.0 <= r["removed_frac"] <= 1.0
    assert rows[1]["n_in"] == rows[0]["n_out"]
    assert rows[2]["n_in"] == rows[1]["n_out"]


def test_connected_components_chain_and_cliques(spark):
    """A 4-node chain (diameter 3 — needs real propagation rounds, not
    just the fused init) and a disjoint triangle each collapse to their
    min node id."""
    from precios_nexo_sperant_etl_spark.operators.graph import (
        connected_components)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12)],   # triangle 10-11-12
        "doc_a long, doc_b long")
    got = {r["node"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_partitioning_independent(spark):
    """Same labels regardless of input partitioning (min is commutative;
    the driver-side convergence check must not depend on layout)."""
    from precios_nexo_sperant_etl_spark.operators.graph import (
        connected_components)
    edges = [(i, i + 1) for i in range(0, 20, 2)] + [(4, 6), (8, 100)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    a = sorted(map(tuple, connected_components(pairs).collect()))
    b = sorted(map(tuple,
                   connected_components(pairs.repartition(7)).collect()))
    assert a == b


def test_connected_components_max_iter_guard(spark):
    """A long chain must raise, not silently emit split clusters."""
    import pytest
    from precios_nexo_sperant_etl_spark.operators.graph import (
        connected_components)
    chain = spark.createDataFrame([(i, i + 1) for i in range(8)],
                                  "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(chain, max_iter=2)


def test_cluster_assignment_covers_singletons(spark):
    """Every doc gets a cluster id; docs in no pair are their own
    singleton cluster; sizes count the full corpus assignment."""
    from precios_nexo_sperant_etl_spark.operators.graph import (
        cluster_assignment)
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(6)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "doc_a long, doc_b long")
    rows = {r["doc_id"]: r for r in cluster_assignment(docs, pairs).collect()}
    assert len(rows) == 6
    assert rows[0]["cluster_id"] == rows[3]["cluster_id"] == rows[5]["cluster_id"] == 0
    assert rows[0]["cluster_size"] == 3
    for singleton in (1, 2, 4):
        assert rows[singleton]["cluster_id"] == singleton
        assert rows[singleton]["cluster_size"] == 1


def test_tfidf_top_terms_hand_computed(spark):
    """Rational-idf TF-IDF pinned by hand: corpus of 3 docs; 'rare'
    appears only in doc 0, so it outranks the ubiquitous 'the'."""
    from precios_nexo_sperant_etl_spark.operators.text import tfidf_top_terms
    df = spark.createDataFrame([
        (0, "the rare term"),
        (1, "the common the"),
        (2, "the common"),
    ], "doc_id long, text string")
    out = tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: 'rare' and 'term' (df=1, idf=(3+1)/(1+1)=2.0, tf=1/3) beat
    # 'the' (df=3, idf=1.0); tie broken by term asc.
    assert [r["term"] for r in by_doc[0]] == ["rare", "term"]
    assert abs(by_doc[0][0]["tfidf"] - (1 / 3) * 2.0) < 1e-15
    # doc 1: 'the' tf=2/3 idf=1.0 = 2/3 > 'common' 1/3 * (4/3)
    assert [r["term"] for r in by_doc[1]] == ["the", "common"]


def test_vocab_oov_rate_membership(spark):
    from precios_nexo_sperant_etl_spark.operators.text import vocab_oov_rate
    docs = spark.createDataFrame([
        (0, "a b zz"),
        (1, "a a a"),
    ], "doc_id long, text string")
    vocab = spark.createDataFrame([("a",), ("b",)], "term string")
    rows = {r["doc_id"]: r for r in vocab_oov_rate(docs, vocab).collect()}
    assert rows[0]["n_tokens"] == 3 and rows[0]["n_oov"] == 1
    assert abs(rows[0]["oov_rate"] - 1 / 3) < 1e-15
    assert rows[1]["n_oov"] == 0 and rows[1]["oov_rate"] == 0.0


def test_label_centroids_exact_partition_independent(spark):
    """Sorted-fold centroids are bit-identical under any partitioning;
    the throughput (plain AVG) form agrees to float tolerance."""
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        label_centroids)
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)], i % 3)
            for i in range(60)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    a = sorted(map(tuple, label_centroids(emb).collect()))
    b = sorted(map(tuple, label_centroids(emb.repartition(13)).collect()))
    assert a == b  # bit-identical, not just close
    approx = {(r["label"], r["dim"]): r["centroid"]
              for r in label_centroids(emb, exact=False).collect()}
    for label, dim, centroid, n in a:
        assert n == 20
        assert abs(approx[(label, dim)] - centroid) < 1e-9


def test_label_centroids_exact_guard_rejects_oversized_group(spark):
    """exact=True pre-counts group sizes and refuses to materialize a
    value list beyond the cap (silent task OOM at scale); exact=False
    and a deliberately raised cap both still work on the same data."""
    import pytest
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        label_centroids)
    rows = [(i, [float(i), 1.0], "big" if i < 8 else "small")
            for i in range(10)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    with pytest.raises(ValueError, match="exact_max_group_rows=5.*big=8"):
        label_centroids(emb, exact_max_group_rows=5)
    # Loud, not lossy: the same call succeeds with the cap raised …
    out = {(r["label"], r["dim"]): r["n_vectors"]
           for r in label_centroids(emb, exact_max_group_rows=8).collect()}
    assert out[("big", 0)] == 8 and out[("small", 1)] == 2
    # … and the scale form ignores the cap entirely.
    assert label_centroids(emb, exact=False,
                           exact_max_group_rows=1).count() == 4


def test_ngram_hot_shingle_cap_sizing(spark):
    """The doc-frequency cap's contract: a right-sized cap (above the
    corpus's near-dup cluster size) loses nothing; an undersized cap
    degrades to a strict SUBSET — a cluster of >cap near-identical docs
    makes every shared shingle hot, so its pairs vanish. That's why the
    docstring says size the cap above expected cluster size (and run
    exact dedup first)."""
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        ngram_jaccard_pairs)
    from precios_nexo_sperant_etl_spark.sources.tables import load_tables
    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    full = set(map(tuple, ngram_jaccard_pairs(docs).collect()))
    right = set(map(tuple,
                    ngram_jaccard_pairs(docs, max_shingle_df=10).collect()))
    under = set(map(tuple,
                    ngram_jaccard_pairs(docs, max_shingle_df=3).collect()))
    assert right == full            # right-sized: lossless
    assert under < full             # undersized: strict subset, never junk


def test_no_storage_growth_across_repeated_queries(spark):
    """The persisted-frame contract, pinned: three consecutive runs of
    the cache-returning queries (minhash persist contract, CC
    localCheckpoint blocks) leave ZERO cached storage behind once the
    harness does what bench.py/check_parity.py do — clearCache for
    persist() entries — plus the GC pass that lets the ContextCleaner
    reap localCheckpoint blocks (clearCache alone cannot free those:
    they are RDD-level, not catalog-level). A long-lived session running
    the full registry in a loop must not accrete storage."""
    import gc
    import time as _time

    from precios_nexo_sperant_etl_spark.registry import queries

    qs = queries()
    jsc = spark.sparkContext._jsc.sc()

    def drain() -> int:
        spark.catalog.clearCache()
        for _ in range(60):
            if len(jsc.getRDDStorageInfo()) == 0:
                return 0
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            _time.sleep(0.25)
        return len(jsc.getRDDStorageInfo())

    sf = "/root/testdata/sf0.001"
    for _ in range(3):
        qs["minhash_dedup_pairs"](spark, sf).count()
        qs["neardup_clusters"](spark, sf).count()
        assert drain() == 0, [r.toString() for r in jsc.getRDDStorageInfo()]


def test_minhash_join_cross_corpus(spark):
    """Cross-corpus join finds planted left↔right near-dups (identical
    and one-word-edit), never pairs within a side, and the per-side
    bucket cap degrades recall-only (surviving pairs keep exact
    Jaccard)."""
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        minhash_join)
    left = spark.createDataFrame([d for d in DOCS if d[0] % 2 == 0],
                                 "doc_id long, text string")
    right = spark.createDataFrame([d for d in DOCS if d[0] % 2 == 1],
                                  "doc_id long, text string")
    rows = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in minhash_join(left, right, threshold=0.5).collect()}
    assert rows[(0, 3)] == 1.0          # identical pair across sides
    assert 0.5 <= rows[(0, 1)] < 1.0    # one-word edit
    assert all(a % 2 == 0 and b % 2 == 1 for a, b in rows)
    capped = {(r["doc_a"], r["doc_b"]): r["jaccard"]
              for r in minhash_join(left, right, threshold=0.5,
                                    max_bucket_size=50).collect()}
    assert capped == rows               # generous cap loses nothing


def test_bigram_lm_scores_hand_computed(spark):
    """Add-1 bigram probabilities against hand-computed values, plus the
    cross-model shape (score a corpus under a model trained elsewhere:
    unseen bigrams/contexts degrade to 1/(0+V), never error)."""
    from precios_nexo_sperant_etl_spark.operators.text import (
        bigram_lm_scores)
    docs = spark.createDataFrame([(1, "a b a b")],
                                 "doc_id long, text string")
    r = bigram_lm_scores(docs).collect()[0]
    # bigrams (a,b),(b,a),(a,b); c12(a,b)=2,(b,a)=1; c1 a=2,b=1; V=2
    assert r["n_bigrams"] == 3
    assert abs(r["mean_bigram_p"] - (0.75 + 2 / 3 + 0.75) / 3) < 1e-15

    model = spark.createDataFrame([(9, "x y")], "doc_id long, text string")
    target = spark.createDataFrame([(2, "x y z")],
                                   "doc_id long, text string")
    r = bigram_lm_scores(target, model_df=model).collect()[0]
    # p(x,y)=(1+1)/(1+2); p(y,z) unseen context=(0+1)/(0+2)
    assert r["n_bigrams"] == 2
    assert abs(r["mean_bigram_p"] - (2 / 3 + 0.5) / 2) < 1e-15


def test_cluster_aware_split_never_straddles(spark):
    """Every near-dup cluster lands whole in one split: the planted
    triple {0,1,3} shares one cluster and one split; a doc-id-keyed
    split could straddle it."""
    from precios_nexo_sperant_etl_spark.operators.graph import (
        cluster_assignment)
    from precios_nexo_sperant_etl_spark.operators.serve import hash_split
    docs = _docs(spark)
    pairs = minhash_dedup_pairs(docs, threshold=0.5)
    assigned = cluster_assignment(docs, pairs).select("doc_id", "cluster_id")
    rows = hash_split(assigned, id_col="cluster_id").collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert cluster_of[0] == cluster_of[1] == cluster_of[3] == 0


def test_arrow_assignment_matches_fold_path(spark):
    """The Arrow matmul assignment (the documented 100 TB path for the
    k-means assign phase, 14x the interpreted fold at x30 stress) must
    agree with the fold path on real data — same init, same exact-fold
    centroid recompute, same first-minimum tie-break."""
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        assign_kmeans_cells, assign_kmeans_cells_arrow)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fold = {r["vec_id"]: r["cell"]
            for r in assign_kmeans_cells(emb).collect()}
    arrow = {r["vec_id"]: r["cell"]
             for r in assign_kmeans_cells_arrow(emb).collect()}
    assert fold == arrow


def test_semdedup_arrow_drops_match_join_path(spark):
    """The per-cell matmul drop computation (paper's cluster-shard
    regime) must produce the same drop set as the distributed pair
    join."""
    from pyspark.sql import functions as F

    from precios_nexo_sperant_etl_spark.functions.exact import ddot
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        _norm, assign_kmeans_cells, semdedup_drops_arrow)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cells = assign_kmeans_cells(emb).localCheckpoint(eager=True)
    a = cells.select(F.col("vec_id").alias("ka"),
                     F.col("embedding").alias("va"), "cell")
    b = cells.select(F.col("vec_id").alias("kb"),
                     F.col("embedding").alias("vb"), "cell")
    cos = (ddot(F.col("va"), F.col("vb"))
           / (_norm(F.col("va")) * _norm(F.col("vb"))))
    join_drops = {r["kb"] for r in
                  a.join(b, "cell").filter(F.col("ka") < F.col("kb"))
                   .filter(cos >= 0.35).select("kb").distinct().collect()}
    arrow_drops = {r["drop_id"] for r in
                   semdedup_drops_arrow(cells, 0.35).collect()}
    assert join_drops == arrow_drops and len(arrow_drops) > 0


def test_semdedup_diverse_keeps_farthest_from_centroid(spark):
    """Paper keep-policy: within each close pair (same cell, cosine >=
    tau) the survivor must be the member with LOWER centroid-cosine
    rank; and the policy actually changes the outcome vs min-id."""
    from pyspark.sql import functions as F

    from precios_nexo_sperant_etl_spark.functions.exact import ddot
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        _norm, assign_kmeans_cells, semdedup_survivors,
        semdedup_survivors_diverse)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tau = 0.35
    div = {r["vec_id"] for r in
           semdedup_survivors_diverse(emb, threshold=tau).collect()}
    mid = {r["vec_id"] for r in
           semdedup_survivors(emb, threshold=tau).collect()}
    assert div and div != mid  # the keep policy changes the outcome

    # no two surviving vectors in the same cell may be >= tau apart
    cells = assign_kmeans_cells(emb).localCheckpoint(eager=True)
    surv = cells.filter(F.col("vec_id").isin([int(i) for i in div]))
    a = surv.select(F.col("vec_id").alias("ia"),
                    F.col("embedding").alias("va"), "cell")
    b = surv.select(F.col("vec_id").alias("ib"),
                    F.col("embedding").alias("vb"), "cell")
    cos = (ddot(F.col("va"), F.col("vb"))
           / (_norm(F.col("va")) * _norm(F.col("vb"))))
    close_pairs = (a.join(b, "cell").filter(F.col("ia") < F.col("ib"))
                    .filter(cos >= tau).count())
    assert close_pairs == 0


def test_semdedup_two_gear_query_matches_fold_path(spark):
    """The registered semdedup_survivors runs arrow_assign+arrow_pairs;
    the oracle replays the fold semantics. Pin the full two-gear result
    (ids AND cells) against the all-fold path end to end on real data."""
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        semdedup_survivors)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fold = {(r["vec_id"], r["cell"])
            for r in semdedup_survivors(emb, threshold=0.35).collect()}
    arrow = {(r["vec_id"], r["cell"])
             for r in semdedup_survivors(emb, threshold=0.35,
                                         arrow_assign=True,
                                         arrow_pairs=True).collect()}
    assert fold == arrow and len(arrow) > 0


def test_semdedup_diverse_two_gear_matches_fold_path(spark):
    """Rank-ordered arrow pair scoring (rank_col) must reproduce the
    diversity keep policy's fold-path survivor set exactly."""
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        semdedup_survivors_diverse)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fold = {(r["vec_id"], r["cell"]) for r in
            semdedup_survivors_diverse(emb, threshold=0.35).collect()}
    arrow = {(r["vec_id"], r["cell"]) for r in
             semdedup_survivors_diverse(emb, threshold=0.35,
                                        arrow_assign=True,
                                        arrow_pairs=True).collect()}
    assert fold == arrow and len(arrow) > 0


def test_duplicate_ngram_stats_semantics(spark):
    """3-gram dup exposure on a hand-built corpus: identical docs are
    fully duplicated, a doc sharing one 3-gram partially, a unique doc
    not at all, and a 2-token doc is absent (no 3-grams)."""
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        duplicate_ngram_stats)

    docs = spark.createDataFrame(
        [(1, "a b c d"),          # shingles: 'a b c', 'b c d'
         (2, "a b c d"),          # identical — both shingles dup
         (3, "a b c x y"),        # shares 'a b c' only
         (4, "p q r s"),          # unique
         (5, "t u")],             # too short — no shingles
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in duplicate_ngram_stats(docs).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["dup_ngram_rate"] == 1.0 == rows[2]["dup_ngram_rate"]
    assert rows[3]["n_ngrams"] == 3 and rows[3]["n_dup_ngrams"] == 1
    assert rows[4]["n_dup_ngrams"] == 0 and rows[4]["dup_ngram_rate"] == 0.0


def test_quantization_audit_semantics(spark):
    """SQ8 audit invariants on a hand-built corpus: a constant dimension
    quantizes exactly (mse = 0), every error is bounded by half a
    bucket width, and codes cover the [mn, mx] range."""
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        quantization_audit)

    rows = [(i, [float(i), 7.0, (i % 3) * 100.0]) for i in range(32)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in quantization_audit(emb).collect()}
    assert set(out) == {0, 1, 2}
    assert out[1]["mse"] == 0.0 and out[1]["max_abs_err"] == 0.0
    for d in (0, 2):
        half_bucket = (out[d]["mx"] - out[d]["mn"]) / 255.0 / 2.0
        assert out[d]["max_abs_err"] <= half_bucket * 1.0000001
        assert out[d]["n_values"] == 32


def test_ccnet_lm_buckets_partition_and_order(spark):
    """Buckets partition each language's scored docs and respect the
    score order: every head score >= every middle score >= every tail
    score within a language."""
    import precios_nexo_sperant_etl_spark.queries_scale_part2 as qs
    rows = qs._ccnet_lm_buckets(spark, "/root/testdata/sf0.001").collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, b in by_lang.items():
        assert set(b) <= {"head", "middle", "tail"}
        if "head" in b and "middle" in b:
            assert b["head"]["min_score"] >= b["middle"]["max_score"]
        if "middle" in b and "tail" in b:
            assert b["middle"]["min_score"] >= b["tail"]["max_score"]


def test_temperature_mix_partition_independent(spark):
    """The order-pinned denominator fold must be partition-invariant:
    identical results under adversarial repartitioning."""
    from precios_nexo_sperant_etl_spark.operators.text import temperature_mix
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = temperature_mix(docs).collect()
    b = temperature_mix(docs.repartition(17, "text")).collect()
    assert a == b and len(a) > 0


def test_ewma_hand_computed(spark):
    """EWMA fold pinned by hand: daily counts [4, 2, 8] (date order) at
    α=1/2 → 4, then 0.5·2+0.5·4 = 3, then 0.5·8+0.5·3 = 5.5. A second
    user with one day returns that day's count; date order must follow
    the calendar even when input rows arrive shuffled."""
    import datetime as dt
    from pyspark.sql import functions as F
    rows = []
    # user 1: deliberately inserted out of calendar order
    for d, n in ((3, 8), (1, 4), (2, 2)):
        for i in range(n):
            rows.append((1, dt.datetime(2024, 1, d, 10, 0, i)))
    rows.append((2, dt.datetime(2024, 1, 5, 12, 0, 0)))
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    daily = (ev.select("user_id", F.to_date("ts").alias("d"))
               .groupBy("user_id", "d")
               .agg(F.count(F.lit(1)).alias("c")))
    arr = F.array_sort(F.collect_list(F.struct(
        F.col("d"), F.col("c").cast("double").alias("c"))))
    out = {r["user_id"]: r for r in
           (daily.groupBy("user_id")
                 .agg(F.aggregate(
                     F.slice(arr, 2,
                             F.greatest(F.size(arr) - 1, F.lit(0))),
                     F.element_at(arr, 1)["c"],
                     lambda acc, x: 0.5 * x["c"] + 0.5 * acc)
                      .alias("ewma"))).collect()}
    assert out[1]["ewma"] == 5.5
    assert out[2]["ewma"] == 1.0


def test_triangle_stats_hand_computed(spark):
    """Triangle census pinned by hand: a 4-clique (4 triangles, 12
    wedges), a 3-chain (0 triangles, 2 wedges... path 1-2-3-4 has 2
    wedges), and an isolated edge. Clustering = 3*tri/wedges."""
    from precios_nexo_sperant_etl_spark.operators.graph import (
        triangle_stats)
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    chain = [(10, 11), (11, 12), (12, 13)]
    lone = [(20, 21)]
    pairs = spark.createDataFrame(clique + chain + lone,
                                  "doc_a long, doc_b long")
    r = triangle_stats(pairs).collect()[0]
    assert r["n_nodes"] == 4 + 4 + 2
    assert r["n_edges"] == 6 + 3 + 1
    # wedges: clique 4*C(3,2)=12; chain degs 1,2,2,1 -> 1+1=2; edge 0
    assert r["n_wedges"] == 12 + 2
    assert r["n_triangles"] == 4
    assert abs(r["global_clustering"] - 12 / 14) < 1e-15


def _pagerank_reference(edges, n_rounds=5, damping_pct=85, scale=10 ** 12):
    """Pure-Python twin of the fixed-point recurrence (exact integers)."""
    from collections import defaultdict
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    out = defaultdict(list)
    deg = defaultdict(int)
    for u, v in und:
        out[u].append(v)
        deg[u] += 1
    nodes = sorted(deg)
    n = len(nodes)
    init = scale // n
    tele = (init * (100 - damping_pct)) // 100
    r = {u: init for u in nodes}
    for _ in range(n_rounds):
        s = defaultdict(int)
        for u in nodes:
            c = r[u] // deg[u]
            for v in out[u]:
                s[v] += c
        r = {u: tele + (damping_pct * s[u]) // 100 for u in nodes}
    return r, dict(deg)


def test_pagerank_fixed_point_matches_reference(spark):
    """Spark's distributed rounds reproduce the exact-integer reference
    on a hub-and-spoke plus a disjoint pair; the hub outranks leaves."""
    from precios_nexo_sperant_etl_spark.operators.graph import (
        pagerank_fixed_point)
    edges = [(1, 2), (1, 3), (1, 4), (1, 5), (2, 3), (10, 11)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want, want_deg = _pagerank_reference(edges)
    got = {r["node"]: (r["pr_units"], r["deg"])
           for r in pagerank_fixed_point(pairs).collect()}
    assert {u: p for u, (p, _) in got.items()} == want
    assert {u: d for u, (_, d) in got.items()} == want_deg
    assert got[1][0] > got[4][0]  # hub above leaf


def test_pagerank_partitioning_independent_and_mass(spark):
    """Integer arithmetic ⇒ bit-identical under any partitioning, and
    total mass stays within the documented quantization loss (≤ 1 unit
    per node per div, a few·n per round — never more)."""
    from precios_nexo_sperant_etl_spark.operators.graph import (
        pagerank_fixed_point)
    edges = [(i, (i * 7 + 3) % 23) for i in range(23)
             if i != (i * 7 + 3) % 23]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    a = sorted(map(tuple, pagerank_fixed_point(pairs).collect()))
    b = sorted(map(tuple,
                   pagerank_fixed_point(pairs.repartition(9)).collect()))
    assert a == b
    scale, n, rounds = 10 ** 12, len({u for e in edges for u in e}), 5
    total = sum(r[2] for r in a)
    assert scale >= total > scale - 3 * n * rounds - n


def test_kmeans_fit_arrow_iters_matches_fold(spark):
    """kmeans_fit(arrow_iters=True) — the construct-time gear the IVF
    centroid memo uses — must return bit-identical centroids to the
    interpreted-fold fit: same init, per-iteration assignments agree
    (pinned above), and the centroid recompute is the same id-ordered
    exact fold in both gears."""
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        kmeans_fit)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fold = kmeans_fit(emb, n_cells=10, n_iter=3)
    arrow = kmeans_fit(emb, n_cells=10, n_iter=3, arrow_iters=True)
    assert fold == arrow


def test_snm_pairs_window_and_threshold(spark, tmp_path):
    # A dictionary where sort-adjacency finds a pair that key blocking
    # (second word) would miss: 'azure pen' ~ 'azury pen' share no block
    # key ('pen' vs 'pen' would match -- use differing second words).
    import os
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import _snm_part_pairs
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("region", "nation", "customer", "supplier", "orders",
              "lineitem", "events", "documents", "embeddings"):
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet",
                   f"{sf}/{t}.parquet")
    names = ["azure pens", "azure qens", "coral pen", "zz top"]
    spark.createDataFrame([(n,) for n in names], ["p_name"]) \
         .write.parquet(f"{sf}/part.parquet")
    rows = _snm_part_pairs(spark, sf).collect()
    got = {(r.name_a, r.name_b): r for r in rows}
    # adjacent in sort order, dist 1, different block key ('pens' vs 'qens')
    assert ("azure pens", "azure qens") in got
    assert got[("azure pens", "azure qens")].dist == 1
    assert got[("azure pens", "azure qens")].same_block is False
    # everything returned respects the window (gap < 4) and threshold
    assert all(1 <= r.gap <= 3 and r.dist <= 4 for r in rows)
    # 'zz top' is adjacent to 'coral pen' in order but edit-far -> absent
    assert all("zz top" not in (r.name_a, r.name_b) for r in rows)


def test_embedding_neardup_bucket_cap_guard(spark):
    """max_bucket_size (the degenerate-bucket production guard, parity
    with minhash_band_pairs): capped output must be a SUBSET of the
    uncapped pairs, pairs wholly inside kept buckets must survive, and
    a cap of 0 must drop everything."""
    from precios_nexo_sperant_etl_spark.operators.similarity import (
        embedding_neardup_lsh)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = embedding_neardup_lsh(emb, threshold=0.35, n_planes=4,
                                 n_probe=2)
    capped = embedding_neardup_lsh(emb, threshold=0.35, n_planes=4,
                                   n_probe=2, max_bucket_size=20)
    allp = {(r["vec_a"], r["vec_b"]) for r in base.collect()}
    kept = {(r["vec_a"], r["vec_b"]) for r in capped.collect()}
    assert kept <= allp
    assert len(kept) < len(allp)       # the cap actually bites here
    empty = embedding_neardup_lsh(emb, threshold=0.35, n_planes=4,
                                  n_probe=2, max_bucket_size=0)
    assert empty.count() == 0
