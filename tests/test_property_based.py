"""Property-based cross-checks (hypothesis): the distributed operators
must agree with trivially-correct pure-Python references on arbitrary
inputs, not just the hand-picked fixtures."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from precios_nexo_sperant_etl_spark.operators.graph import (
    connected_components)
from precios_nexo_sperant_etl_spark.operators.packing import pack_sequences
from precios_nexo_sperant_etl_spark.operators.serve import hash_split

_SETTINGS = dict(max_examples=8, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # fully compress: label = min of component
    return {n: find(n) for n in parent}


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                min_size=1, max_size=60))
def test_connected_components_matches_union_find(spark, edges):
    edges = [(u, v) for u, v in edges if u != v]
    if not edges:
        return
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["node"]: r["cluster_id"]
           for r in connected_components(pairs, max_iter=60).collect()}
    assert got == _union_find(edges)


def _greedy(items, budget):
    out, seq, fill = {}, 0, 0
    for i, t in sorted(items):
        if fill > 0 and fill + t > budget:
            seq, fill = seq + 1, 0
        fill += t
        out[i] = (seq, fill)
    return out


@settings(**_SETTINGS)
@given(st.lists(st.integers(0, 700), min_size=1, max_size=50))
def test_pack_sequences_matches_reference_greedy(spark, tokens):
    items = list(enumerate(tokens))
    df = spark.createDataFrame([("g", i, t) for i, t in items],
                               "lang string, doc_id long, n_tokens long")
    got = {r["doc_id"]: (r["seq_id"], r["seq_fill"])
           for r in pack_sequences(df, budget=512).collect()}
    assert got == _greedy(items, 512)


@settings(**_SETTINGS)
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=80,
                unique=True))
def test_hash_split_total_and_stable(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = hash_split(df).collect()
    assert len(rows) == len(ids)                      # total function
    assert all(r["split"] in ("train", "val", "test") for r in rows)
    again = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in rows)  # stable


def _bpe_ref(texts, n_merges):
    """Pure-Python BPE reference with the SAME documented semantics:
    frequency-weighted pair argmax, (count DESC, pair ASC) tie-break,
    two-pass non-overlapping replace merge (str.replace scans left to
    right exactly like SQL replace)."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.split(r"\s+", t.strip()):
            if w:
                words[w] += 1
    syms = {w: " ".join(list(w)) for w in words}
    merges = []
    for r in range(n_merges):
        pc = Counter()
        for w, cnt in words.items():
            sp = syms[w].split(" ")
            for a, b in zip(sp, sp[1:]):
                pc[(a, b)] += cnt
        if not pc:
            break
        (p1, p2), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, p1, p2, p1 + p2, c))
        pat, rep = f" {p1} {p2} ", f" {p1}{p2} "
        for w in syms:
            s = f" {syms[w]} ".replace(pat, rep).replace(pat, rep)
            syms[w] = s.strip()
    return merges


@settings(**_SETTINGS)
@given(st.lists(
    st.lists(st.text(alphabet="ab", min_size=1, max_size=6),
             min_size=1, max_size=12).map(" ".join),
    min_size=1, max_size=4))
def test_bpe_learn_matches_pure_python_reference(spark, texts):
    from precios_nexo_sperant_etl_spark.operators.bpe import bpe_learn

    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id int, text string")
    got = [tuple(r) for r in bpe_learn(docs, n_merges=3).collect()]
    assert got == _bpe_ref(texts, 3)


def _money_ref(v):
    """Pure-Python reference for F22: Intl es-PE PEN, max 0 fraction
    digits — double → exact DECIMAL(18,2) via the shortest repr (Spark's
    cast), then integer sol with halfExpand (away from zero), comma
    grouping, NBSP after the symbol."""
    import math
    from decimal import ROUND_HALF_UP, Decimal
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "–"
    d2 = Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_UP)
    i = int(d2.quantize(Decimal("1"), ROUND_HALF_UP))
    return f"S/ {i:,}"


@settings(**_SETTINGS)
@given(st.lists(
    st.one_of(st.none(),
              st.floats(min_value=-1e12, max_value=1e12,
                        allow_nan=False, allow_infinity=False),
              st.just(float("nan"))),
    min_size=1, max_size=40))
def test_format_pen_matches_reference(spark, vals):
    from pyspark.sql import functions as F

    from precios_nexo_sperant_etl_spark.functions.currency import format_pen
    df = spark.createDataFrame(list(enumerate(vals)), "id int, v double")
    got = {r["id"]: r["m"] for r in
           df.select("id", format_pen(F.col("v")).alias("m")).collect()}
    for i, v in enumerate(vals):
        assert got[i] == _money_ref(v), (v, got[i], _money_ref(v))


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 500),
                          st.sampled_from(["a", "b", "c", None])),
                min_size=1, max_size=80, unique_by=lambda t: t[0]),
       st.sampled_from(["", "s2"]))
def test_stratified_sample_matches_reference(spark, rows, salt):
    """The distributed keep set must equal the pure-Python hash
    computation row for row (portable md5 semantics)."""
    import hashlib

    from precios_nexo_sperant_etl_spark.operators.serve import (
        stratified_hash_sample)
    rates = {"a": 0.3, "b": 1.0, "c": 0.0}

    def keep(i, s):
        thr = int(round(rates.get(s, 0.5) * 10_000)) if s is not None \
            else 5_000  # default_rate=0.5
        h = hashlib.md5(
            f"{salt}{s if s is not None else ''}:{i}".encode()).hexdigest()
        return int(h[:12], 16) % 10_000 < thr

    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r["doc_id"] for r in
           stratified_hash_sample(df, rates, salt=salt,
                                  default_rate=0.5).collect()}
    want = {i for i, s in rows if keep(i, s)}
    assert got == want


def _xs_reference(docs, w):
    """Brute-force ExactSubstr coverage: windows as tuples, cross-doc
    collision by set membership, interval union per doc."""
    wins = {}  # tuple -> set of doc ids
    toks = {}
    for i, text in docs:
        tk = [t for t in text.split() if t]
        toks[i] = tk
        for s in range(len(tk) - w + 1):
            wins.setdefault(tuple(tk[s:s + w]), set()).add(i)
    out = {}
    for i, tk in toks.items():
        spans = [(s + 1, s + w) for s in range(len(tk) - w + 1)
                 if len(wins[tuple(tk[s:s + w])]) > 1]
        covered = n_spans = 0
        cur_s = cur_e = None
        for s, e in spans:
            if cur_e is None or s > cur_e + 1:
                if cur_e is not None:
                    covered += cur_e - cur_s + 1
                cur_s, cur_e, n_spans = s, e, n_spans + 1
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s + 1
        out[i] = (len(tk), len(spans), n_spans, covered)
    return out


@settings(**_SETTINGS)
@given(st.lists(st.lists(st.sampled_from("ab"), min_size=0, max_size=12)
                .map(lambda ts: " ".join(ts)),
                min_size=1, max_size=8))
def test_exact_substring_matches_brute_force(spark, texts):
    from precios_nexo_sperant_etl_spark.operators.text import (
        exact_substring_coverage)
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_dup_windows"], r["n_spans"],
                         r["covered_tokens"])
           for r in exact_substring_coverage(df, window=3).collect()}
    assert got == _xs_reference(docs, 3)


def _triangle_reference(edges):
    es = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    wedges = sum(len(ns) * (len(ns) - 1) // 2 for ns in adj.values())
    tris = sum(1 for a, b in es for c in (adj[a] & adj[b]) if b < c)
    return len(adj), len(es), wedges, tris


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                min_size=1, max_size=40))
def test_triangle_stats_matches_brute_force(spark, raw):
    from precios_nexo_sperant_etl_spark.operators.graph import triangle_stats
    es = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    if not es:
        return
    pairs = spark.createDataFrame(es, "doc_a long, doc_b long")
    r = triangle_stats(pairs).collect()[0]
    n, e, w, t = _triangle_reference(es)
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"],
            r["n_triangles"]) == (n, e, w, t)


def _ntile_reference(n, k=5):
    q, rem = divmod(n, k)
    out, r = [], 1
    for b in range(1, k + 1):
        size = q + 1 if b <= rem else q
        out.extend([b] * size)
    return out


@settings(**_SETTINGS)
@given(st.integers(1, 300))
def test_ntile5_arithmetic_matches_sql_semantics(spark, n):
    from pyspark.sql import functions as F
    from precios_nexo_sperant_etl_spark.queries_scale_part1 import _ntile5_expr
    got = [r["b"] for r in
           (spark.range(1, n + 1)
            .select(F.expr(_ntile5_expr("id", n)).alias("b"))
            .orderBy("id").collect())]
    assert got == _ntile_reference(n)


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                min_size=1, max_size=60))
def test_star_components_match_union_find(spark, edges):
    from precios_nexo_sperant_etl_spark.operators.graph import (
        connected_components_star)
    edges = [(u, v) for u, v in edges if u != v]
    if not edges:
        return
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["node"]: r["cluster_id"]
           for r in connected_components_star(pairs, max_iter=60).collect()}
    assert got == _union_find(edges)


def test_star_components_contract_long_chains(spark):
    """The star rounds' reason to exist: a diameter-120 path converges
    within 10 rounds, where hash-min (one hop per round) provably
    cannot and raises its convergence guard."""
    import pytest
    from precios_nexo_sperant_etl_spark.operators.graph import (
        connected_components_star)
    path = [(i, i + 1) for i in range(120)]
    pairs = spark.createDataFrame(path, "doc_a long, doc_b long")
    got = {r["node"]: r["cluster_id"]
           for r in connected_components_star(pairs, max_iter=10).collect()}
    assert len(got) == 121 and set(got.values()) == {0}
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(pairs, max_iter=10)
