"""Expectations suite + systematic weighted sampler: the green path on
the clean fixture, violation detection on a deliberately corrupted
orders table, and the sampler's weight-proportionality invariants."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from precios_nexo_sperant_etl_spark.queries_audit import _expectations
from precios_nexo_sperant_etl_spark.queries_scale_part2 import (
    _SYS_N, _systematic_sample)

SF_DIR = "/root/testdata/sf0.001"


def test_expectations_all_pass_on_clean_fixture(spark):
    rows = _expectations(spark, SF_DIR).collect()
    assert len(rows) == 6
    assert all(r.passed for r in rows)
    assert all(r.n_violations == 0 for r in rows)
    n = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    assert all(r.n_rows == n for r in rows)


@pytest.fixture()
def corrupted_sf(spark, tmp_path):
    """sf dir where orders carries one violation of every constraint and
    the customer dim is missing one referenced key."""
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("region", "nation", "supplier", "part", "lineitem",
              "events", "documents", "embeddings"):
        os.symlink(f"{SF_DIR}/{t}.parquet", f"{sf}/{t}.parquet")
    orders = [
        Row(o_orderkey=1, o_custkey=1, o_orderstatus="O",
            o_totalprice=10.0, o_orderpriority="1-URGENT"),
        Row(o_orderkey=1, o_custkey=1, o_orderstatus="O",      # dup key
            o_totalprice=10.0, o_orderpriority="2-HIGH"),
        Row(o_orderkey=2, o_custkey=None, o_orderstatus="O",   # null FK
            o_totalprice=10.0, o_orderpriority="3-MEDIUM"),
        Row(o_orderkey=3, o_custkey=1, o_orderstatus="X",      # bad status
            o_totalprice=10.0, o_orderpriority="4-NOT SPECIFIED"),
        Row(o_orderkey=4, o_custkey=1, o_orderstatus="F",
            o_totalprice=-5.0, o_orderpriority="5-LOW"),       # bad range
        Row(o_orderkey=5, o_custkey=1, o_orderstatus="F",
            o_totalprice=10.0, o_orderpriority="URGENT"),      # bad format
        Row(o_orderkey=6, o_custkey=99, o_orderstatus="F",     # dangling FK
            o_totalprice=10.0, o_orderpriority="1-URGENT"),
    ]
    spark.createDataFrame(orders).coalesce(1).write.parquet(
        f"{sf}/orders.parquet")
    spark.createDataFrame(
        [Row(c_custkey=1, c_name="a", c_nationkey=0, c_acctbal=0.0,
             c_mktsegment="BUILDING")]
    ).coalesce(1).write.parquet(f"{sf}/customer.parquet")
    return sf


def test_expectations_detect_each_violation(spark, corrupted_sf):
    got = {r.check_name: r for r in _expectations(spark, corrupted_sf)
           .collect()}
    assert not any(r.passed for r in got.values())
    assert got["completeness: o_custkey NOT NULL"].n_violations == 1
    assert got["uniqueness: o_orderkey"].n_violations == 1
    assert got["accepted_values: o_orderstatus in (F,O,P)"].n_violations == 1
    assert got["range: o_totalprice > 0"].n_violations == 1
    assert got["format: o_orderpriority ~ ^[1-5]-"].n_violations == 1
    # null o_custkey joins nothing AND the dangling key 99 joins nothing
    assert got["referential: o_custkey in customer"].n_violations == 2


def test_systematic_sample_tick_budget_and_coverage(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    total = docs.agg(F.sum("n_chars")).collect()[0][0]
    step = total // _SYS_N
    out = _systematic_sample(spark, SF_DIR).collect()
    # every tick in (0, total] lands on exactly one document
    assert sum(r.n_ticks for r in out) == total // step
    # inclusion is weight-proportional: a doc spanning >= step chars is
    # ALWAYS included (crosses at least one boundary)
    big = {r.doc_id for r in docs.where(F.col("n_chars") >= step)
           .select("doc_id").collect()}
    picked = {r.doc_id for r in out}
    assert big <= picked
    # cumulative positions are consistent with the doc_id-ordered line
    cum = 0
    by_id = {r.doc_id: r for r in out}
    for d in sorted(docs.select("doc_id", "n_chars").collect(),
                    key=lambda r: r.doc_id):
        cum += d.n_chars
        if d.doc_id in by_id:
            assert by_id[d.doc_id].cum_chars == cum


def test_price_trend_matches_numpy_ols(spark):
    import numpy as np
    from precios_nexo_sperant_etl_spark.queries_agg import _price_trend

    got = {r.o_orderpriority: r for r in _price_trend(spark, SF_DIR)
           .collect()}
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .select("o_orderpriority",
                F.datediff(F.col("o_orderdate").cast("date"),
                           F.lit("1970-01-01").cast("date")).alias("x"),
                "o_totalprice").collect()
    by_prio: dict = {}
    for r in orders:
        by_prio.setdefault(r.o_orderpriority, []).append(
            (r.x, round(r.o_totalprice, 2)))
    assert set(got) == set(by_prio)
    for prio, pts in by_prio.items():
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        assert got[prio].n_orders == len(pts)
        assert abs(got[prio].slope_per_day - slope) < 1e-6 * max(
            1.0, abs(slope))
        assert abs(got[prio].intercept - intercept) < 1e-4 * max(
            1.0, abs(intercept))


def test_pearson_matches_numpy(spark):
    import numpy as np
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import (
        _discount_price_corr)
    got = {r.l_returnflag: r.pearson_r
           for r in _discount_price_corr(spark, SF_DIR).collect()}
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag", "l_discount", "l_extendedprice").collect()
    by_flag: dict = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append(
            (round(r.l_discount * 100), round(r.l_extendedprice, 2)))
    for flag, pts in by_flag.items():
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        expect = np.corrcoef(xs, ys)[0, 1]
        assert abs(got[flag] - expect) < 1e-9


def test_event_rules_invariants(spark):
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import _event_rules
    rows = _event_rules(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.type_a < r.type_b
        assert 0 < r.n_both <= min(r.n_a, r.n_b)
        assert 0 < r.support <= 1
        assert 0 < r.confidence_a_to_b <= 1
        assert r.lift > 0
        # lift is symmetric in (a, b): recompute from the counts
        assert abs(r.lift - r.n_both * r.n_users / (r.n_a * r.n_b)) < 1e-12


def test_winsorized_mean_bounded_by_clip_points(spark):
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import _winsorized_mean
    got = {r.o_orderstatus: r.winsorized_mean
           for r in _winsorized_mean(spark, SF_DIR).collect()}
    pct = spark.read.parquet(f"{SF_DIR}/orders.parquet").groupBy(
        "o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("p5"),
        F.expr("percentile(o_totalprice, 0.95)").alias("p95")).collect()
    for r in pct:
        assert r.p5 <= got[r.o_orderstatus] <= r.p95


def test_pareto_frontier_matches_bruteforce(spark):
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import _pareto_frontier
    got = {r.doc_id for r in _pareto_frontier(spark, SF_DIR).collect()}
    from precios_nexo_sperant_etl_spark.operators.text import (
        BPE_ISH_PATTERN, quality_expr)
    pts = [(r.doc_id, r.q, r.t) for r in
           spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
               "doc_id", quality_expr(F.col("text")).alias("q"),
               F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
               .cast("long").alias("t")).collect()]
    expect = set()
    for i, qi, ti in pts:
        dominated = any(
            qj >= qi and tj <= ti and (qj > qi or tj < ti)
            for j, qj, tj in pts if j != i)
        if not dominated:
            expect.add(i)
    assert got == expect


def test_pareto_two_pass_equals_single_window(spark):
    from precios_nexo_sperant_etl_spark.operators.text import (
        BPE_ISH_PATTERN, quality_expr)
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import (
        _pareto_frontier, pareto_frontier_two_pass)
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", quality_expr(F.col("text")).alias("quality"),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
        .cast("long").alias("n_tokens"))
    two = sorted(map(tuple, pareto_frontier_two_pass(d, 8).collect()))
    one = sorted(map(tuple, _pareto_frontier(spark, SF_DIR).collect()))
    assert two == one


def test_survival_km_matches_python_reference(spark):
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import (
        _KM_HORIZONS, _survival_km)
    row = _survival_km(spark, SF_DIR).collect()[0]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "ts", "event_type").collect()
    t_end = max(r.ts for r in ev)
    users: dict = {}
    for r in ev:
        u = users.setdefault(r.user_id, {"t0": r.ts, "tp": None})
        u["t0"] = min(u["t0"], r.ts)
        if r.event_type == "purchase":
            u["tp"] = r.ts if u["tp"] is None else min(u["tp"], r.ts)
    durs = []
    for u in users.values():
        if u["tp"] is not None:
            durs.append(((u["tp"].date() - u["t0"].date()).days, True))
        else:
            durs.append(((t_end.date() - u["t0"].date()).days, False))
    assert row.n_users == len(durs)
    assert row.n_converted == sum(1 for _, c in durs if c)
    for h in _KM_HORIZONS:
        s = 1.0
        for t in sorted({t for t, c in durs if c}):
            if t > h:
                continue
            n_risk = sum(1 for d, _ in durs if d >= t)
            d_t = sum(1 for d, c in durs if d == t and c)
            s *= 1.0 - d_t / n_risk
        got = getattr(row, f"s_unconverted_d{h}")
        assert abs(got - s) < 1e-12
        assert 0.0 <= got <= 1.0
    # survival is non-increasing in the horizon
    vals = [getattr(row, f"s_unconverted_d{h}") for h in _KM_HORIZONS]
    assert vals == sorted(vals, reverse=True)


def test_cusum_closed_form_matches_recurrence(spark):
    import math
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import (
        _event_volume_cusum)
    row = _event_volume_cusum(spark, SF_DIR).collect()[0]
    daily = sorted(
        (r.d, r.x) for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x")).collect())
    xs = [x for _, x in daily]
    n = len(xs)
    mu = sum(xs) / n
    kk = math.sqrt(sum(v * v for v in xs) / n - mu * mu) / 2
    s = smax = 0.0
    dbest = None
    for d, x in daily:
        s = max(0.0, s + x - mu - kk)
        if s > smax:
            smax, dbest = s, d
    assert row.n_days == n
    assert abs(row.cusum_max - smax) < 1e-9
    assert row.change_day == dbest


def test_quantile_calibration_uniformizes_each_source(spark):
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import (
        _quantile_normalized_quality)
    rows = _quantile_normalized_quality(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # mean of (0, 1/(n-1), ..., 1) is exactly 0.5 whatever the
        # source's raw distribution — the point of calibration
        assert abs(r.cal_mean - 0.5) < 1e-12
        assert 0 <= r.n_above_global_cut <= r.n_docs
    # the global cut is shared: above-cut shares sum to ~25% of docs
    total = sum(r.n_docs for r in rows)
    above = sum(r.n_above_global_cut for r in rows)
    assert above <= total * 0.30


def test_waterfill_exhausts_budget_exactly(spark):
    from precios_nexo_sperant_etl_spark.operators.packing import waterfill
    sup = spark.createDataFrame(
        [Row(source=s, supply_tokens=v) for s, v in
         [("a", 5), ("b", 1000), ("c", 40), ("d", 40), ("e", 7)]])
    out = waterfill(sup, budget_num=6, budget_den=10).collect()
    total = 5 + 1000 + 40 + 40 + 7
    budget = total * 6 // 10
    alloc = {r.source: r.allocated_tokens for r in out}
    assert sum(alloc.values()) == budget          # exact, incl. remainder
    by_src = {r.source: r for r in out}
    for r in out:                                 # never oversample
        assert r.allocated_tokens <= r.supply_tokens
        if r.fully_funded:
            assert r.allocated_tokens == r.supply_tokens
    # unfunded groups sit within one token of a common water level
    tail = [r.allocated_tokens for r in out if not r.fully_funded]
    assert tail and max(tail) - min(tail) <= 1
    # the big source absorbs the slack; small ones are fully funded
    assert by_src["a"].fully_funded and by_src["e"].fully_funded
    assert not by_src["b"].fully_funded


def test_waterfill_budget_above_total_funds_everything(spark):
    from precios_nexo_sperant_etl_spark.operators.packing import waterfill
    sup = spark.createDataFrame(
        [Row(source=s, supply_tokens=v) for s, v in
         [("a", 3), ("b", 9), ("c", 27)]])
    out = waterfill(sup, budget_num=11, budget_den=10).collect()
    assert all(r.allocated_tokens == r.supply_tokens for r in out)
    assert all(r.fully_funded for r in out)


def test_epoch_schedule_invariants(spark):
    """The epoch scheduler (waterfill over 3x caps at a 1.5x budget)
    exhausts the budget exactly, never exceeds any source's repetition
    cap, and pins epochs to allocated/supply."""
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import _epoch_schedule
    out = _epoch_schedule(spark, "/root/testdata/sf0.001").collect()
    assert out, "no sources"
    total = sum(r.supply_tokens for r in out)
    assert sum(r.allocated_tokens for r in out) == 3 * total // 2
    for r in out:
        assert r.cap_tokens == 3 * r.supply_tokens
        assert r.allocated_tokens <= r.cap_tokens
        assert 0 < r.epochs <= 3.0
        assert r.epochs == r.allocated_tokens / r.supply_tokens
        if r.at_cap:
            assert r.allocated_tokens == r.cap_tokens
    # a 1.5x budget with 3x caps must leave at least one source BELOW
    # its cap (else the budget would be >= 3x total)
    assert any(not r.at_cap for r in out)


def test_waterfill_property_random_supplies(spark):
    """Hypothesis-style sweep without per-example Spark jobs (one plan
    per case is too slow): 24 seeded random supply vectors, full
    invariant set — exact exhaustion min(budget, total), per-group
    supply cap, funded prefix of the (supply, key) sort, tail within
    one token of a common level."""
    import random
    from precios_nexo_sperant_etl_spark.operators.packing import waterfill
    for seed in range(24):
        rng = random.Random(seed)
        n = rng.randint(1, 12)
        rows = [Row(source=f"s{i:02d}", supply_tokens=rng.randint(0, 2000))
                for i in range(n)]
        num, den = rng.choice([(1, 10), (6, 10), (9, 10), (10, 10), (13, 10)])
        out = (waterfill(spark.createDataFrame(rows),
                         budget_num=num, budget_den=den)
               .collect())
        total = sum(r.supply_tokens for r in rows)
        budget = total * num // den
        alloc = sum(r.allocated_tokens for r in out)
        assert alloc == min(budget, total), (seed, alloc, budget, total)
        for r in out:
            assert 0 <= r.allocated_tokens <= r.supply_tokens, (seed, r)
            if r.fully_funded:
                assert r.allocated_tokens == r.supply_tokens
        ordered = sorted(out, key=lambda r: (r.supply_tokens, r.source))
        flags = [r.fully_funded for r in ordered]
        assert flags == sorted(flags, reverse=True), (seed, flags)
        tail = [r.allocated_tokens for r in ordered if not r.fully_funded]
        if tail:
            assert max(tail) - min(tail) <= 1, (seed, tail)


def test_heaps_vocab_growth_monotone_and_exact_at_full(spark):
    from precios_nexo_sperant_etl_spark.operators.text import tokens
    from precios_nexo_sperant_etl_spark.queries_scale_part2 import \
        _heaps_vocab_growth
    rows = _heaps_vocab_growth(spark, SF_DIR).collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    toks = [r.tokens_at for r in rows]
    voc = [r.vocab_size for r in rows]
    assert toks == sorted(toks) and voc == sorted(voc)
    assert all(v <= t for v, t in zip(voc, toks))
    # decile 10 covers the whole stream: vocab == corpus distinct terms,
    # tokens == corpus token count
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ex = (d.select(F.explode(tokens(F.col("text"))).alias("t"))
           .where(F.col("t") != ""))
    assert voc[-1] == ex.select("t").distinct().count()
    assert toks[-1] == ex.count()


def test_pq_codes_pack_and_range(spark):
    from precios_nexo_sperant_etl_spark.queries_scale_part4 import _pq_codes
    rows = _pq_codes(spark, SF_DIR).collect()
    assert rows, "pq produced no codes"
    for r in rows:
        codes = [r[f"code{j}"] for j in range(4)]
        assert all(0 <= c < 8 for c in codes)
        assert r["packed"] == sum(c * (8 ** j) for j, c in enumerate(codes))
    # every subspace should use more than one code on real data
    for j in range(4):
        assert len({r[f"code{j}"] for r in rows}) > 1


def test_pq_fused_fit_matches_independent(spark):
    """The fused+Arrow PQ fit (one label_centroids job per Lloyd round,
    matmul assignment) must reproduce four independent exact-fold
    kmeans_fit calls bit-for-bit — the construct-wall fix is a job-count
    and analysis-cost change, never a math change."""
    from pyspark.sql import functions as F

    import precios_nexo_sperant_etl_spark.queries_scale_part4 as p4
    from precios_nexo_sperant_etl_spark.operators.similarity import kmeans_fit
    sf = "/root/testdata/sf0.001"
    p4._PQ_FIT_CACHE.clear()
    fused = p4._pq_fit_all(spark, sf)
    emb = p4._t(spark, sf, "embeddings").select("vec_id", "embedding")
    for j in range(p4._PQ_M):
        sub = emb.select("vec_id",
                         F.slice("embedding", j * p4._PQ_DIMS + 1,
                                 p4._PQ_DIMS).alias("embedding"))
        want = kmeans_fit(sub, n_cells=p4._PQ_K, n_iter=p4._PQ_ITER)
        assert fused[j] == want, f"subspace {j} centroids diverged"
