"""Operator-semantics tests: update rules, tower-prefix idempotence,
dedup tiebreak quirks, tolerant/null-safe compares."""

import datetime as dt

from pyspark.sql import functions as F

from precios_nexo_sperant_etl_spark.functions.compare import isclose, nullsafe_neq
from precios_nexo_sperant_etl_spark.operators.dedup import dedup_keep_latest
from precios_nexo_sperant_etl_spark.operators.update import coalesce_update, tower_prefix


def test_coalesce_update_modes(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (None, 3.0), (4.0, None), (None, None)], "old double, new double")
    rows = df.select(
        coalesce_update(F.col("old"), F.col("new"), "preferir_nuevo").alias("nuevo"),
        coalesce_update(F.col("old"), F.col("new"), "preferir_existente").alias("exist"),
    ).collect()
    assert [r["nuevo"] for r in rows] == [2.0, 3.0, 4.0, None]
    assert [r["exist"] for r in rows] == [1.0, 3.0, 4.0, None]


def test_tower_prefix_idempotent(spark):
    df = spark.createDataFrame(
        [("Matera", "A-1", "101"), ("Napoles", "B9", "207"), ("Fenix", "A2", "301")],
        "Proyecto string, Tipologia string, Numero string")
    once = tower_prefix(df, project_col="Proyecto", typology_col="Tipologia",
                        unit_col="Numero")
    twice = tower_prefix(once, project_col="Proyecto", typology_col="Tipologia",
                         unit_col="Numero")
    assert sorted(r["Numero"] for r in once.collect()) == ["301", "A101", "B207"]
    assert once.collect() == twice.collect()


def test_dedup_nat_sorts_last_quirk(spark):
    """pandas sorts NaT last in the dedup sort, so an UNDATED row beats any
    dated row (SURVEY §2.6 W1) — reproduced via desc_nulls_first."""
    df = spark.createDataFrame(
        [("k", 1, dt.datetime(2024, 1, 1)),
         ("k", 2, None),
         ("k", 3, dt.datetime(2024, 6, 1))],
        "key string, payload int, fecha timestamp")
    out = dedup_keep_latest(df, ["key"], "fecha", tiebreak="payload").collect()
    assert len(out) == 1 and out[0]["payload"] == 2  # the undated row wins


def test_dedup_tiebreak_on_ordinal(spark):
    df = spark.createDataFrame(
        [("k", 1, dt.datetime(2024, 1, 1)), ("k", 2, dt.datetime(2024, 1, 1))],
        "key string, ordn int, fecha timestamp")
    out = dedup_keep_latest(df, ["key"], "fecha", tiebreak="ordn").collect()
    assert out[0]["ordn"] == 2  # positional last-wins via explicit ordinal


def test_salted_join_equivalent_to_plain(spark):
    """Skew salting is a physical transform only: output must match the
    plain left join exactly, including unmatched-left rows."""
    from precios_nexo_sperant_etl_spark.operators.join import salted_left_join
    left = spark.createDataFrame(
        [("hot", i) for i in range(50)] + [("cold", 99), ("miss", 1)],
        "k string, lv int")
    right = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("extra", "X")], "k string, rv string")
    plain = {(r["k"], r["lv"], r["rv"]) for r in
             left.join(right, "k", "left").collect()}
    salted = {(r["k"], r["lv"], r["rv"]) for r in
              salted_left_join(left, right, ["k"], n_salts=4,
                               salt_source="lv").collect()}
    assert salted == plain and ("miss", 1, None) in salted


def test_isclose_semantics(spark):
    df = spark.createDataFrame(
        [(100.0, 100.0009), (100.0, 100.2), (None, None), (None, 5.0)],
        "a double, b double")
    got = [r["c"] for r in df.select(isclose(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got == [True, False, True, False]


def test_ddot_null_input_is_null(spark):
    """A NULL array yields NULL, also next to an empty array (whose
    size alone would otherwise select the empty-fold 0.0)."""
    from precios_nexo_sperant_etl_spark.functions.exact import ddot
    df = spark.createDataFrame(
        [(0, None, []), (1, [], None), (2, None, None), (3, [], []),
         (4, [1.0, 2.0], [3.0, 4.0]), (5, None, [1.0])],
        "i int, a array<float>, b array<float>")
    got = {r["i"]: r["d"] for r in
           df.select("i", ddot(F.col("a"), F.col("b")).alias("d")).collect()}
    assert got == {0: None, 1: None, 2: None, 3: 0.0, 4: 11.0, 5: None}


def test_nullsafe_neq_case_sensitive(spark):
    """F17: case-sensitive by design — 'Disponible (Visible)' vs
    'disponible' flags a change (the reference's committed audit quirk)."""
    df = spark.createDataFrame(
        [("Disponible (Visible)", "disponible"), ("x", "x"), (None, None), (None, "x")],
        "a string, b string")
    got = [r["c"] for r in
           df.select(nullsafe_neq(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got == [True, False, False, True]


def test_row_id_dense_permutation_random_data(spark):
    """add_row_id must assign a dense 0..n-1 permutation that respects
    the total order, including under duplicate order keys (ties get
    arbitrary-but-valid consecutive ids) and across repeated runs
    (repartitionByRange samples per execution — the persist inside the
    operator pins one layout; regression test for the r1 bug where the
    counts and output branches saw different samplings)."""
    import random

    from pyspark.sql import functions as F

    from precios_nexo_sperant_etl_spark.operators.dedup import add_row_id

    rng = random.Random(7)
    rows = [(rng.randrange(50), i) for i in range(2000)]  # heavy key ties
    df = spark.createDataFrame(rows, "k long, payload long")
    for trial in range(2):
        out = add_row_id(df, order_by=[F.col("k")], name="rid",
                         num_partitions=16).collect()
        ids = sorted(r["rid"] for r in out)
        assert ids == list(range(2000))              # dense permutation
        by_id = sorted(out, key=lambda r: r["rid"])
        ks = [r["k"] for r in by_id]
        assert ks == sorted(ks)                      # ids respect the order


def test_top_k_per_group_partitioning_independent(spark):
    """Two-phase top-k must equal the single-window answer regardless of
    how the input is partitioned (phase-1 local winners are a superset
    of every global top-k)."""
    import random

    from pyspark.sql import Window, functions as F

    from precios_nexo_sperant_etl_spark.operators.serve import top_k_per_group

    rng = random.Random(11)
    rows = [(rng.randrange(5), rng.randrange(10_000), i) for i in range(3000)]
    df = spark.createDataFrame(rows, "g long, v long, i long")
    want_w = Window.partitionBy("g").orderBy("v", "i")
    want = {(r["g"], r["v"], r["i"]) for r in
            df.withColumn("_r", F.row_number().over(want_w))
              .filter(F.col("_r") <= 7).drop("_r").collect()}
    for parts in (1, 7, 64):
        got = {(r["g"], r["v"], r["i"]) for r in
               top_k_per_group(df.repartition(parts),
                               ["g"], [F.col("v"), F.col("i")], 7).collect()}
        assert got == want, parts


def test_hash_split_deterministic_and_proportional(spark):
    """Split assignment is a pure function of the id: identical under
    repartitioning, fractions approximately honored, salt re-deals."""
    from precios_nexo_sperant_etl_spark.operators.serve import hash_split
    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: (r["bucket"], r["split"])
         for r in hash_split(df).collect()}
    b = {r["doc_id"]: (r["bucket"], r["split"])
         for r in hash_split(df.repartition(11)).collect()}
    assert a == b
    from collections import Counter
    frac = Counter(s for _, s in a.values())
    assert abs(frac["train"] / 5000 - 0.90) < 0.02
    assert abs(frac["val"] / 5000 - 0.05) < 0.01
    assert abs(frac["test"] / 5000 - 0.05) < 0.01
    salted = {r["doc_id"]: r["split"]
              for r in hash_split(df, salt="v2").collect()}
    assert any(salted[i] != a[i][1] for i in a)


def test_pack_sequences_greedy_semantics(spark):
    """Greedy first-fit-in-order pinned by hand, including the
    over-budget single document and the group boundary reset."""
    from precios_nexo_sperant_etl_spark.operators.packing import (
        pack_sequences)
    df = spark.createDataFrame([
        ("en", 0, 300), ("en", 1, 200),   # 300+200=500 fits budget 512
        ("en", 2, 20),                    # 520 > 512 -> new seq
        ("en", 3, 600),                   # over budget alone -> own seq
        ("es", 10, 100),                  # new group restarts at seq 0
    ], "lang string, doc_id long, n_tokens long")
    rows = {(r["lang"], r["doc_id"]): (r["seq_id"], r["seq_fill"])
            for r in pack_sequences(df, budget=512).collect()}
    assert rows[("en", 0)] == (0, 300)
    assert rows[("en", 1)] == (0, 500)
    assert rows[("en", 2)] == (1, 20)
    assert rows[("en", 3)] == (2, 600)   # oversized doc isolated
    assert rows[("es", 10)] == (0, 100)


def test_pack_sequences_partitioning_independent(spark):
    from precios_nexo_sperant_etl_spark.operators.packing import (
        pack_sequences)
    import random
    rng = random.Random(3)
    rows = [(f"g{i % 4}", i, rng.randint(10, 400)) for i in range(200)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    a = sorted(map(tuple, pack_sequences(df, 512).collect()))
    b = sorted(map(tuple, pack_sequences(df.repartition(17), 512).collect()))
    assert a == b


def test_registry_correctness_window_budget():
    """The driver stamps only the first 50 queries, so every registered
    query must carry an oracle for its stamp to be a hash check."""
    from precios_nexo_sperant_etl_spark import registry
    qs = registry.queries()
    oracles = registry.oracle_sql()
    no_oracle = [n for n in qs if n not in oracles]
    assert not no_oracle, f"queries without oracles: {no_oracle}"


def test_gopher_quality_flags_rules(spark):
    """Each Gopher rule must trip on a doc built to violate exactly it."""
    from precios_nexo_sperant_etl_spark.operators.text import (
        gopher_quality_flags)

    docs = spark.createDataFrame([
        (1, "the cat and the dog ran to the big house"),  # passes all
        (2, "one two"),                                   # too few words
        (3, "the ### and ## of # a # to # # stuff"),      # symbol-heavy
        (4, "1 2 3 4 5 6 7 8 9 the and"),                 # few alpha words
        (5, "lorem ipsum dolor sit amet foo bar"),        # no stopwords
    ], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}
    assert rows[1]["passes_gopher"]
    assert not rows[2]["ok_word_count"] and not rows[2]["passes_gopher"]
    assert not rows[3]["ok_symbol_ratio"] and not rows[3]["passes_gopher"]
    assert not rows[4]["ok_alpha_words"] and not rows[4]["passes_gopher"]
    assert not rows[5]["ok_stopwords"] and not rows[5]["passes_gopher"]


def test_stratified_hash_sample_deterministic_and_salted(spark):
    """Keep decisions are a pure function of (salt, stratum, id): same
    call twice → identical sample; different salt → different deal;
    rate 0 kills a stratum, rate 1 keeps it whole; unknown strata use
    default_rate."""
    from precios_nexo_sperant_etl_spark.operators.serve import (
        stratified_hash_sample)

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "doc_id long, source string")
    rates = {"s0": 0.0, "s1": 1.0, "s2": 0.5}
    a = {r["doc_id"] for r in stratified_hash_sample(docs, rates).collect()}
    b = {r["doc_id"] for r in stratified_hash_sample(docs, rates).collect()}
    assert a == b
    assert not any(i % 3 == 0 for i in a)           # s0 gone
    assert sum(1 for i in a if i % 3 == 1) == 100   # s1 intact
    n_s2 = sum(1 for i in a if i % 3 == 2)
    assert 20 <= n_s2 <= 80                         # ~half, hash-dealt
    c = {r["doc_id"] for r in
         stratified_hash_sample(docs, rates, salt="v2").collect()}
    assert c != a
    # unknown stratum: default_rate=1.0 keeps everything
    d = stratified_hash_sample(docs, {"zzz": 0.0}).count()
    assert d == 300
    # NULL stratum flows through the default-rate path, never silently
    # dropped by a nulled hash concat
    withnull = spark.createDataFrame(
        [(1, None), (2, "s0")], "doc_id long, source string")
    kept = stratified_hash_sample(withnull, {"s0": 1.0}).count()
    assert kept == 2


def test_stratified_sample_plan_is_broadcast_only(spark):
    """The sampler must never shuffle the fact side: its plan is a scan
    + broadcast probe + filter — one BroadcastHashJoin, zero shuffle
    exchanges of the documents table."""
    from precios_nexo_sperant_etl_spark.operators.serve import (
        stratified_hash_sample)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = stratified_hash_sample(docs, {"src0": 0.5, "src1": 1.0})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_rollup_merge_lossless_any_split(spark):
    """Mergeable-rollup algebra: splitting the fact table 3 ways by an
    arbitrary hash and merging in either association order reproduces
    the single-pass rollup exactly (count/sum/min/max all exact)."""
    from pyspark.sql import functions as F
    from precios_nexo_sperant_etl_spark.operators.incremental import (
        merge_rollups, partial_rollup)
    o = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
         .select(F.trunc("o_orderdate", "month").alias("month"),
                 F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
                 (F.abs(F.hash("o_orderkey")) % 3).alias("part")))
    parts = [partial_rollup(o.filter(F.col("part") == i), ["month"], "v")
             for i in range(3)]
    left = merge_rollups(merge_rollups(parts[0], parts[1], ["month"]),
                         parts[2], ["month"])
    right = merge_rollups(parts[0],
                          merge_rollups(parts[1], parts[2], ["month"]),
                          ["month"])
    single = partial_rollup(o, ["month"], "v")
    key = lambda df: sorted(
        (r["month"], r["cnt"], r["total"], r["min_v"], r["max_v"])
        for r in df.collect())
    assert key(left) == key(right) == key(single)


def test_rollup_maintenance_incremental_and_replay_safe(spark, tmp_path):
    """The incremental-pipeline pattern end-to-end: each micro-batch
    writes its PARTIAL rollup into its own batch_id partition (dynamic
    overwrite — a replayed batch replaces itself, never double-counts),
    and the read-time merge of all partials equals the single-pass
    rollup over everything."""
    from pyspark.sql import functions as F
    from precios_nexo_sperant_etl_spark.operators.incremental import (
        merge_rollups, partial_rollup)
    out = str(tmp_path / "rollup")
    o = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
         .select(F.trunc("o_orderdate", "month").alias("month"),
                 F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
                 (F.abs(F.hash("o_orderkey")) % 3).alias("bid")))
    old_conf = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for i in (0, 1, 2, 1):  # batch 1 replayed (at-least-once)
            (partial_rollup(o.filter(F.col("bid") == i), ["month"], "v")
             .withColumn("batch_id", F.lit(i))
             .write.mode("overwrite").partitionBy("batch_id")
             .parquet(out))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       old_conf)
    parts = spark.read.parquet(out)
    merged = merge_rollups(
        merge_rollups(parts.filter("batch_id = 0").drop("batch_id"),
                      parts.filter("batch_id = 1").drop("batch_id"),
                      ["month"]),
        parts.filter("batch_id = 2").drop("batch_id"), ["month"])
    single = partial_rollup(o, ["month"], "v")
    key = lambda df: sorted(
        (r["month"], r["cnt"], r["total"], r["min_v"], r["max_v"])
        for r in df.collect())
    assert key(merged) == key(single)


def test_inverted_index_argmax_tiebreak(spark):
    """Equal tf postings resolve to the SMALLEST doc_id (the
    max(struct(tf, -doc_id)) trick the oracle's ROW_NUMBER mirrors),
    and df<2 terms are excluded."""
    from precios_nexo_sperant_etl_spark.queries_audit import _inverted_index
    import precios_nexo_sperant_etl_spark.queries_audit as qa
    docs = spark.createDataFrame(
        [(5, "alpha beta beta"), (2, "alpha gamma"), (9, "alpha")],
        "doc_id long, text string")
    orig = qa._t
    qa._t = lambda s, sf, name: docs
    try:
        rows = {r["term"]: r for r in _inverted_index(spark, "x").collect()}
    finally:
        qa._t = orig
    # 'alpha': tf=1 in docs 2,5,9 -> tie to min doc 2
    assert rows["alpha"]["df"] == 3 and rows["alpha"]["top_doc_id"] == 2
    assert rows["alpha"]["top_tf"] == 1
    # 'beta' df=1, 'gamma' df=1 -> excluded
    assert set(rows) == {"alpha"}


def test_url_parts_edge_cases(spark):
    """URL keying over the shapes a crawl actually contains: deep
    subdomains, multi-label public suffixes, ports, userinfo, IPv4 and
    bracketed IPv6 literals (which must NOT be label-truncated),
    uppercase hosts, and single-label intranet hosts."""
    from precios_nexo_sperant_etl_spark.operators.urls import with_url_parts
    cases = [
        ("https://a.b.example.com/x", "a.b.example.com", None,
         "/x", None, "example.com"),
        ("http://blog.shop.co.uk/p?q=1#frag", "blog.shop.co.uk", None,
         "/p", "q=1", "shop.co.uk"),
        ("https://user:pw@cdn.example.org:8443/a.html",
         "cdn.example.org", 8443, "/a.html", None, "example.org"),
        ("http://192.168.0.1:8080/admin", "192.168.0.1", 8080,
         "/admin", None, "192.168.0.1"),
        ("http://[2001:db8::1]/x", "[2001:db8::1]", None,
         "/x", None, "[2001:db8::1]"),
        ("http://EXAMPLE.NET/y", "example.net", None, "/y", None,
         "example.net"),
        ("http://intranet/wiki", "intranet", None, "/wiki", None,
         "intranet"),
    ]
    df = spark.createDataFrame([(u,) for u, *_ in cases], "url string")
    got = {r["url"]: r for r in with_url_parts(df).collect()}
    for url, host, port, path, qs, dom in cases:
        r = got[url]
        assert (r["host"], r["port"], r["path"], r["query_string"],
                r["domain"]) == (host, port, path, qs, dom), url


def test_gopher_passes_expr_matches_flags_frame(spark):
    """The single-expression verdict must agree with the flags-frame
    conjunction on every rule-violation shape (the inline form exists so
    pipelines can gate in one scan instead of a join — filter_funnel)."""
    import pyspark.sql.functions as F
    from precios_nexo_sperant_etl_spark.operators.text import (
        gopher_passes_expr, gopher_quality_flags)

    docs = spark.createDataFrame([
        (1, "the cat and the dog ran to the big house"),
        (2, "one two"),
        (3, "the ### and ## of # a # to # # stuff"),
        (4, "1 2 3 4 5 6 7 8 9 the and"),
        (5, "lorem ipsum dolor sit amet foo bar"),
        (6, "a " * 400 + "the and of"),            # mean word len low
        (7, ""),                                   # empty text
    ], "doc_id long, text string")
    frame = {r["doc_id"]: r["passes_gopher"]
             for r in gopher_quality_flags(docs).collect()}
    expr = {r["doc_id"]: r["p"]
            for r in docs.select("doc_id",
                                 gopher_passes_expr(F.col("text"))
                                 .alias("p")).collect()}
    assert frame == expr
