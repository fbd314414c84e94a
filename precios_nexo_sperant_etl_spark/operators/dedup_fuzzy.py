"""Deduplication operators for training-data pipelines: exact hash dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard.

Scale design notes (the part that matters at 100 TB):

- **Exact dedup** is one hash-groupBy: map-side partial aggregation means
  the shuffle carries one row per distinct hash, not per input row.
- **MinHash+LSH** avoids the quadratic all-pairs comparison: signatures
  are a linear scan; candidate generation is an equi-join on (band,
  band-hash) buckets, so only near-duplicates ever meet in a reducer.
  Skewed buckets (boilerplate text) are the known hazard — AQE skew-join
  handles moderate skew; degenerate buckets should be capped upstream.
- **SimHash** candidate generation is exact pigeonhole banding
  (``max_hamming + 1`` signature chunks → equi-join on chunk buckets),
  with XOR/popcount verification of survivors — same bucket-join shape
  as MinHash-LSH, never all-pairs.
- All hashes are portable polynomial folds (see ``text.char_hash_expr``)
  so DuckDB oracles reproduce them bit-for-bit — no engine-private hash
  functions in any semantic output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sortutil import final_sort
from .text import HASH_P, md5_hash

#: MinHash permutation parameters (a*h + b mod P), fixed small primes.
#: This 8-permutation set is the TOY config used by the hash-checked
#: oracle queries; production uses :func:`minhash_params` below.
MINHASH_A = (7, 11, 13, 17, 19, 23, 29, 31)
MINHASH_B = (3, 5, 101, 2029, 4783, 9001, 104729, 999331)
N_BANDS = 2  # 2 bands × 4 rows over the 8-signature

#: Production LSH shape: 128 permutations in 16 bands of 8 rows.
#: P(candidate | J) = 1 - (1 - J^8)^16 — the S-curve crosses 0.5 near
#: J ≈ 0.65 and is ≈1 above J ≈ 0.85, with a low false-candidate rate
#: below J ≈ 0.4: real near-dup-detection collision probabilities, vs
#: the toy 2×4 shape whose curve is too shallow to separate. Same plan,
#: bigger constants — the 100 TB story is unchanged.
PROD_N_PERMS = 128
PROD_N_BANDS = 16


def minhash_params(n_perms: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation parameters for any signature
    width. The first 8 are the toy constants (so oracle SQL generated
    from them never drifts); beyond that, a fixed LCG stream — portable,
    seedless, and reproducible in SQL as plain literals."""
    params = list(zip(MINHASH_A, MINHASH_B))[:n_perms]
    x = 40503
    while len(params) < n_perms:
        x = (1103515245 * x + 12345) % HASH_P
        # a stays < 2^14: shingle hashes are 48-bit (md5 prefix), and
        # a*h must fit signed 64-bit under ANSI mode (no silent wrap) —
        # 2^14 * 2^48 = 2^62. Same bound applies to the DuckDB oracle.
        a = (x & 0x3FFF) or 1
        x = (1103515245 * x + 12345) % HASH_P
        params.append((a, x))
    return params


def canonical_text(col):
    """Normalization applied before exact hashing: lower, trim, collapse
    internal whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via md5 of canonicalized text: one surviving (minimum)
    id per hash plus the duplicate count."""
    h = F.md5(canonical_text(F.col(text_col))).alias("text_hash")
    return (df.select(h, F.col(id_col))
              .groupBy("text_hash")
              .agg(F.min(id_col).alias("keeper_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def exact_dedup_survivors(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """The deduplicated corpus itself: one full row per distinct
    canonicalized text (minimum id wins). Implemented as a window rank so
    the surviving rows keep ALL their columns — the operation a training
    pipeline actually applies before tokenization.

    The hash shuffle is an EXPLICIT repartition at the session's shuffle
    width: the window's required distribution is already satisfied (no
    second exchange), and the explicit partition count stops AQE from
    coalescing the small-BYTES shuffle into one task — downstream
    consumers (quality/language/token regex passes) are CPU-dense per
    byte, and serializing them costs 9× locally. At cluster scale
    shuffle.partitions is sized for the job, so the explicit width is
    exactly what AQE would have kept anyway.
    """
    from pyspark.sql import Window
    spark = df.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    h = F.md5(canonical_text(F.col(text_col)))
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    return (df.withColumn("_h", h)
              .repartition(n_shuffle, "_h")
              .withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn", "_h"))


def shingle_expr(tokens_col: str, k: int = 3) -> str:
    """SQL expression: list of k-gram shingles (space-joined) from a token
    array column; empty when the document is shorter than k tokens."""
    return (f"CASE WHEN size({tokens_col}) >= {k} THEN "
            f"transform(sequence(1, size({tokens_col}) - {k - 1}), "
            f"i -> concat_ws(' ', slice({tokens_col}, i, {k}))) "
            f"ELSE array() END")


def _shingled(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    return (df.select(F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"))
              .select(id_col, F.expr(shingle_expr("toks", k)).alias("shingles")))


def shingle_hashes(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   k: int = 3) -> DataFrame:
    """Distinct (id, shingle-hash) pairs — the input to MinHash and
    Jaccard.

    Shingles come from a token posexplode + ``lead`` window (concat of
    the next k-1 tokens per position), NOT an array higher-order
    function: the ``transform(sequence, i -> concat_ws(slice))`` form is
    expression-interpreted per shingle and measured 9× slower at sf0.1
    (4.3s → 0.5s). (``shingle_expr`` remains the reference/oracle form;
    both produce identical sets.)

    r12 exchange discipline: the whole pipeline is CLUSTERED BY the
    document id in ONE explicit repartition of the raw document rows
    (fewer bytes than shuffling the exploded tokens), and every later
    step reuses that partitioning — hashpartitioning(id) satisfies the
    window's (id, _row) clustering, the final ``distinct``'s (id, h)
    clustering, AND the downstream per-document aggregations
    (signatures, shingle-set sizes), which all become exchange-free
    COMPLETE aggs. Before, the 128-permutation signature agg ran
    partial+final over an (id, h)-partitioned cache: each of N
    partitions held rows of nearly every document, so the partial stage
    emitted up to N × n_docs × n_perms wide rows — ~160 MB at 32 cores
    vs ~40 MB at 8, the measured source of minhash_dedup_pairs_prod's
    core-count ANTI-scaling (2.48 s @32 vs 1.17 s @8; guide §2.3
    "aggregate before you shuffle" cuts both ways when the partial
    output exceeds its input). The explicit width keeps AQE from
    coalescing the CPU-dense shingle window into one task; at fleet
    scale defaultParallelism is the executor-core total, the right
    order for a per-token compute stage."""
    from pyspark.sql import Window

    # A per-ROW tag (not just the id) keys the window: two input rows
    # sharing an id (or a caller collapsing ids) must never interleave
    # their token streams into cross-row shingles. The tag is evaluated
    # once per input row before the explode, so every token of a row
    # carries the same value; it never reaches the output.
    tagged = df.select(F.col(id_col), F.col(text_col),
                       F.monotonically_increasing_id().alias("_row"))
    # (own projection: a nondeterministic expr in the SAME select as a
    # generator would be re-evaluated per exploded row — every token
    # would get its own tag and no shingle would ever form)
    spark = df.sparkSession
    tagged = tagged.repartition(spark.sparkContext.defaultParallelism,
                                id_col)
    toks = tagged.select(
        F.col(id_col), F.col("_row"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "tok"))
    w = Window.partitionBy(id_col, "_row").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    last = F.lead("tok", k - 1).over(w)
    sh = (toks.select(id_col, F.concat_ws(" ", *leads).alias("sh"),
                      last.alias("_last"))
              .filter(F.col("_last").isNotNull()))
    return sh.select(id_col, md5_hash(F.col("sh")).alias("h")).distinct()


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       hashed: DataFrame | None = None,
                       n_perms: int = 8) -> DataFrame:
    """``n_perms``-permutation MinHash signature per document: min over
    shingle hashes of ``(a_i*h + b_i) mod P``. Linear scan + one
    combinable agg regardless of width — more permutations only widen
    the agg row, they never add a shuffle.

    Pass ``hashed`` (from :func:`shingle_hashes`) to reuse an already
    materialized shingle set — the explode is the expensive part.
    """
    if hashed is None:
        hashed = shingle_hashes(df, text_col, id_col, k)
    # One F.expr per permutation, NOT a composed Column tree: every
    # Column operator is a py4j round trip, and 128 perms × ~6 ops was
    # ~2s of pure driver-side build time at prod width. The SQL string
    # is parsed JVM-side in one crossing; arithmetic is identical.
    aggs = [F.expr(f"min(({a} * h + {b}) % {HASH_P}) AS mh_{i}")
            for i, (a, b) in enumerate(minhash_params(n_perms))]
    return hashed.groupBy(id_col).agg(*aggs)


def _band_buckets(sigs: DataFrame, id_col: str, n_bands: int) -> DataFrame:
    """(id, band, band-hash) rows: every band's signature rows folded to
    one long in a single projection over the signature row (the fold is
    ``(acc*131 + mh) % HASH_P`` — mirrored verbatim by the oracle SQL)."""
    n_perms = sum(1 for c in sigs.columns if c.startswith("mh_"))
    n_per_band = n_perms // n_bands
    # Whole band array as ONE SQL string (single py4j crossing) — see
    # minhash_signatures for why composed Column trees are avoided here.
    structs = []
    for b in range(n_bands):
        fold = "CAST(0 AS BIGINT)"
        for j in range(n_per_band):
            fold = f"(({fold}) * 131 + mh_{b * n_per_band + j}) % {HASH_P}"
        structs.append(f"named_struct('band', {b}, 'bh', {fold})")
    arr = "explode(array(" + ", ".join(structs) + "))"
    return (sigs.select(F.col(id_col), F.expr(arr).alias("_b"))
                .select(id_col, "_b.band", "_b.bh"))


def minhash_band_pairs(sigs: DataFrame, id_col: str = "doc_id",
                       n_bands: int = N_BANDS,
                       max_bucket_size: int | None = None) -> DataFrame:
    """LSH candidate pairs: documents agreeing on ALL signature rows of
    at least one band. Never all-pairs.

    Plan shape: every band hash is folded in ONE projection over the
    signature row (an array of (band, bh) structs, exploded), so the
    signature aggregate upstream is computed exactly once — a bucket
    self-JOIN would evaluate it once per join side. Buckets are then
    grouped with ``collect_list`` (the only shuffle here) and pairs are
    generated bucket-locally from the id list. Cost scales with
    Σ bucket², i.e. with genuine collisions; degenerate buckets
    (boilerplate-dominated corpora) are the known hazard —
    ``max_bucket_size`` is the production guard: buckets above the cap
    are DROPPED (their members still pair via their other, more
    selective bands; a bucket that big carries no discriminative signal,
    only quadratic cost). At 100 TB set it so cap² fits a task's
    pair-generation budget, e.g. 10_000."""
    buckets = _band_buckets(sigs, id_col, n_bands)
    grouped = (buckets.groupBy("band", "bh")
                      .agg(F.collect_list(id_col).alias("_ids"))
                      .filter(F.size("_ids") >= 2))
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("_ids") <= max_bucket_size)
    return (grouped.select(F.explode("_ids").alias("doc_a"), "_ids")
                   .select("doc_a", F.explode("_ids").alias("doc_b"))
                   .filter(F.col("doc_a") < F.col("doc_b"))
                   .distinct())


def jaccard_pairs(hashed: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id",
                  hashed_b: DataFrame | None = None) -> DataFrame:
    """Exact shingle-set Jaccard for the given candidate pairs.

    ``hashed_b`` switches to two-sided mode: ``doc_a`` ids resolve
    against ``hashed`` and ``doc_b`` ids against ``hashed_b`` (the
    cross-corpus join path, where the two sides are different tables and
    their id spaces may overlap)."""
    hb_src = hashed if hashed_b is None else hashed_b
    # Both size frames project from the SAME aggregation subtree (alias
    # applied above the agg, not inside it) so Catalyst's ReuseExchange
    # matches the two shuffles — aliasing the count differently per side
    # (n_a/n_b inside the agg) was measured +25% on the minhash family:
    # it forks the subtree and rescans the shingle table twice.
    def _sizes(src: DataFrame, side: str, out: str) -> DataFrame:
        return (src.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
                   .select(F.col(id_col).alias(side),
                           F.col("n_sh").alias(out)))

    sa = _sizes(hashed, "doc_a", "n_a")
    sb = _sizes(hb_src, "doc_b", "n_b")
    ha = hashed.select(F.col(id_col).alias("doc_a"), "h")
    hb = hb_src.select(F.col(id_col).alias("doc_b"), "h")
    common = (pairs.join(ha, "doc_a").join(hb, ["doc_b", "h"])
                   .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("common")))
    return (common.join(sa, "doc_a").join(sb, "doc_b")
                  .select("doc_a", "doc_b",
                          (F.col("common") /
                           (F.col("n_a") + F.col("n_b") - F.col("common")))
                          .alias("jaccard")))


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5, n_perms: int = 8,
                        n_bands: int = N_BANDS,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band-bucket
    join → exact-Jaccard verify → threshold.

    The shingle set feeds three consumers (signatures, Jaccard numerator,
    set sizes); persisting it turns an O(5×) recompute of the explode +
    hash subtree into one materialization. Cache lifetime is owned by the
    caller: run ``spark.catalog.clearCache()`` (or ``.unpersist()`` on
    the input) once the result is materialized — the bench/parity
    harnesses do this between queries.
    """
    hashed = shingle_hashes(df, text_col, id_col, k).persist()
    sigs = minhash_signatures(df, text_col, id_col, k, hashed=hashed,
                              n_perms=n_perms)
    pairs = minhash_band_pairs(sigs, id_col, n_bands=n_bands,
                               max_bucket_size=max_bucket_size)
    return final_sort(jaccard_pairs(hashed, pairs, id_col)
                      .filter(F.col("jaccard") >= threshold),
                      "doc_a", "doc_b")


def minhash_join(left: DataFrame, right: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3, threshold: float = 0.5,
                 n_perms: int = 8, n_bands: int = N_BANDS,
                 max_bucket_size: int | None = None) -> DataFrame:
    """Cross-corpus near-dup JOIN: every (left doc, right doc) pair with
    shingle Jaccard ≥ ``threshold`` — the incremental-ingest primitive
    (dedup a new crawl batch against the existing corpus, or
    decontaminate against a large curated set).

    Same LSH shape as :func:`minhash_dedup_pairs`, but candidates come
    from an equi-join BETWEEN the two sides' (band, band-hash) bucket
    frames instead of bucket-local self-pairing — both sides can be
    arbitrarily large (no broadcast; compare
    :func:`contamination_screen`, which broadcasts a small benchmark's
    shingles). The bucket join shuffles each side once on (band, bh);
    candidate cost is Σ_buckets |left ∩ bucket| × |right ∩ bucket|,
    i.e. it scales with genuine cross-collisions. ``max_bucket_size``
    caps each SIDE's bucket membership (a bucket degenerate on either
    side is dropped; pairs survive via their other bands). Output ids:
    ``doc_a`` from ``left``, ``doc_b`` from ``right`` — id spaces may
    overlap, no ``a < b`` constraint.

    Shingle frames are persisted (3 consumers each); cache lifetime is
    owned by the caller, same contract as :func:`minhash_dedup_pairs`.
    """
    hl = shingle_hashes(left, text_col, id_col, k).persist()
    hr = shingle_hashes(right, text_col, id_col, k).persist()
    sl = minhash_signatures(left, text_col, id_col, k, hashed=hl,
                            n_perms=n_perms)
    sr = minhash_signatures(right, text_col, id_col, k, hashed=hr,
                            n_perms=n_perms)
    bl = _band_buckets(sl, id_col, n_bands)
    br = _band_buckets(sr, id_col, n_bands)
    if max_bucket_size is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("band", "bh")
        bl = (bl.withColumn("_n", F.count(F.lit(1)).over(w))
                .filter(F.col("_n") <= max_bucket_size).drop("_n"))
        br = (br.withColumn("_n", F.count(F.lit(1)).over(w))
                .filter(F.col("_n") <= max_bucket_size).drop("_n"))
    cand = (bl.withColumnRenamed(id_col, "doc_a")
              .join(br.withColumnRenamed(id_col, "doc_b"), ["band", "bh"])
              .select("doc_a", "doc_b").distinct())
    return final_sort(jaccard_pairs(hl, cand, id_col, hashed_b=hr)
                      .filter(F.col("jaccard") >= threshold),
                      "doc_a", "doc_b")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.2,
                        max_shingle_df: int | None = None) -> DataFrame:
    """Exhaustive n-gram Jaccard over pairs sharing ≥1 shingle (the
    non-LSH baseline; the shared-shingle join bounds the pair explosion —
    though with a small vocabulary hot shingles still fan out
    quadratically, which is exactly why the LSH variant exists).

    ``max_shingle_df`` is the scale guard: shingles appearing in more
    than that many documents (boilerplate phrases — each contributes
    df² candidate pairs but near-zero discriminative signal) are dropped
    from CANDIDATE GENERATION only. Verification still scores full
    shingle sets, so the Jaccard value of every surviving pair is exact;
    the approximation is recall-side only. SIZE THE CAP ABOVE the
    expected near-dup cluster size: a cluster of more than ``cap``
    near-identical documents makes every one of its shared shingles hot,
    and its pairs vanish entirely (pinned in tests) — run exact dedup
    first so identical clusters can't inflate df. With the cap,
    candidate cost is bounded by Σ min(df, cap)² instead of Σ df².
    """
    hashed = shingle_hashes(df, text_col, id_col, k).persist()
    cand_src = hashed
    if max_shingle_df is not None:
        rare = (hashed.groupBy("h")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_shingle_df)
                .select("h"))
        cand_src = hashed.join(rare, "h")
    a = cand_src.select(F.col(id_col).alias("doc_a"), "h")
    b = cand_src.select(F.col(id_col).alias("doc_b"), "h")
    pairs = (a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
              .select("doc_a", "doc_b").distinct())
    return final_sort(jaccard_pairs(hashed, pairs, id_col)
                      .filter(F.col("jaccard") >= threshold),
                      "doc_a", "doc_b")


def contamination_screen(df: DataFrame, benchmark: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 3) -> DataFrame:
    """Benchmark-contamination screen: fraction of each document's
    k-token shingles that appear anywhere in the ``benchmark`` corpus
    (eval sets, held-out suites). The standard pre-training leakage
    check: ratio ≈ 1 ⇒ the document IS benchmark data; high fractions
    ⇒ paraphrased leakage.

    Plan: the benchmark's distinct shingle hashes are tiny relative to
    the corpus and broadcast into a hash semi-match; the corpus is
    scanned once (shingle + one groupBy). Zero-overlap documents are
    kept via left join + coalesce(0) — silence is a result here.
    """
    doc_sh = shingle_hashes(df, text_col, id_col, k)
    bench_sh = (shingle_hashes(benchmark.select(F.lit(0).alias(id_col),
                                                F.col(text_col)),
                               text_col, id_col, k)
                .select("h").distinct())
    sizes = doc_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    overlap = (doc_sh.join(F.broadcast(bench_sh), "h")
                     .groupBy(id_col).agg(F.count(F.lit(1)).alias("_c")))
    return (sizes.join(overlap, id_col, "left")
                 .select(F.col(id_col), "n_shingles",
                         F.coalesce(F.col("_c"), F.lit(0)).alias("n_overlap"),
                         (F.coalesce(F.col("_c"), F.lit(0))
                          / F.col("n_shingles")).alias("contamination"))
                 .transform(final_sort, id_col))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n_bits: int = 16) -> DataFrame:
    """Per-document SimHash over token hashes: bit b of the signature is
    the sign of ``sum(±1)`` across tokens for that bit position. One
    explode + one combinable aggregation."""
    toks = (df.select(F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"))
              .select(id_col, F.explode("toks").alias("tok")))
    hashed = toks.select(id_col, md5_hash(F.col("tok")).alias("h"))
    bit_sums = [
        F.sum(2 * F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) - 1).alias(f"s_{b}")
        for b in range(n_bits)
    ]
    sums = hashed.groupBy(id_col).agg(*bit_sums)
    sig = F.lit(0).cast("long")
    for b in range(n_bits):
        sig = sig + F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       n_bits: int = 16, sort: bool = True) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance on the 16-bit signature.

    Candidate generation is EXACT banding, never all-pairs: split the
    signature into ``max_hamming + 1`` chunks (widths differ by at most
    one bit when the signature doesn't divide evenly); by pigeonhole,
    two signatures within Hamming ``max_hamming`` agree exactly on at
    least one chunk, so an equi-join on (chunk-id, chunk-value) finds
    every qualifying pair. Survivors are then verified with the exact
    XOR/popcount. Same plan shape as :func:`minhash_band_pairs` — the
    shuffle carries (chunk, value) buckets, and only colliding chunks
    ever meet in a reducer, so cost scales with collisions, not n².
    (The r1 crossJoin version is preserved as
    :func:`simhash_near_pairs_allpairs` for test cross-checks.)
    """
    n_chunks = max_hamming + 1
    if n_chunks > n_bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_chunks} non-empty chunks "
            f"but the signature has only {n_bits} bits; lower max_hamming "
            f"or widen n_bits")
    # Pigeonhole needs max_hamming+1 chunks of ANY nonzero width (a pair
    # within Hamming max_hamming has at least one chunk with no differing
    # bit), so unequal widths are fine: the first n_bits % n_chunks
    # chunks get one extra bit.
    base, extra = divmod(n_bits, n_chunks)
    widths = [base + (1 if c < extra else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    # One signature row per document — tiny relative to the corpus. The
    # self-join references it twice; persisting avoids recomputing the
    # token explode + bit-vote agg for each side (and lets AQE broadcast
    # the bucket build side when it fits). Lifetime: caller/harness
    # clears caches between queries.
    sigs = simhash(df, text_col, id_col, n_bits).persist()
    chunks = [
        sigs.select(F.col(id_col), F.col("simhash"), F.lit(c).alias("chunk"),
                    F.shiftright(F.col("simhash"), offsets[c])
                     .bitwiseAND(F.lit((1 << widths[c]) - 1)).alias("cv"))
        for c in range(n_chunks)
    ]
    buckets = chunks[0]
    for other in chunks[1:]:
        buckets = buckets.unionByName(other)
    a = buckets.select(F.col(id_col).alias("doc_a"),
                       F.col("simhash").alias("sh_a"), "chunk", "cv")
    b = buckets.select(F.col(id_col).alias("doc_b"),
                       F.col("simhash").alias("sh_b"), "chunk", "cv")
    # A pair whose signatures agree on several chunks would surface once
    # per agreeing chunk; instead of deduping with a distinct (a full
    # shuffle of the output), keep a pair only in its FIRST agreeing
    # chunk — the standard emit-on-first-band LSH trick. "First agreeing
    # chunk" is a pure codegen expression over (sh_a, sh_b), so dedup
    # costs zero exchanges; so is the XOR/popcount verification. The
    # only shuffles in the whole plan are the bucket equi-join and the
    # final presentation sort.
    def _chunk(col, c):
        return F.shiftright(col, offsets[c]).bitwiseAND(
            F.lit((1 << widths[c]) - 1))

    first_match = F.lit(None).cast("int")
    for c in reversed(range(n_chunks)):
        first_match = F.when(
            _chunk(F.col("sh_a"), c) == _chunk(F.col("sh_b"), c),
            F.lit(c)).otherwise(first_match)
    dist = F.bit_count(F.expr("sh_a ^ sh_b"))
    pairs = (a.join(b, on=["chunk", "cv"], how="inner")
              .filter(F.col("doc_a") < F.col("doc_b"))
              .filter(F.col("chunk") == first_match)
              .select("doc_a", "doc_b", dist.alias("hamming"))
              .filter(F.col("hamming") <= max_hamming))
    # The SimHash pair relation is NOT audit-sized (3.1M rows at sf0.1
    # — Hamming ≤ 3 over a 16-bit signature is permissive), so the
    # single-partition sampling-free sort used by the verified-pair
    # operators would serialize millions of rows through one task
    # (measured 4.1 s vs 0.9 s). The parallel range sort stays; callers
    # that re-aggregate (the consensus vote) pass sort=False and skip
    # the presentation sort entirely.
    return pairs.orderBy("doc_a", "doc_b") if sort else pairs


def simhash_near_pairs_allpairs(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id",
                                max_hamming: int = 3) -> DataFrame:
    """All-pairs XOR/popcount oracle for :func:`simhash_near_pairs` —
    O(n²), test scale only; kept so pytest can assert the banded plan is
    lossless."""
    sigs = simhash(df, text_col, id_col)
    a = sigs.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"))
    pairs = a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
    dist = F.bit_count(F.expr("sh_a ^ sh_b"))
    return (pairs.select("doc_a", "doc_b", dist.alias("hamming"))
                 .filter(F.col("hamming") <= max_hamming)
                 .orderBy("doc_a", "doc_b"))


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      threshold: float = 0.8,
                      n_perms: int = 8,
                      n_bands: int = N_BANDS) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥
    ``threshold`` — the measure that catches doc-inside-doc duplication
    (quotes, nested boilerplate, article + commentary wrappers) that
    symmetric Jaccard misses: a short doc fully contained in a long one
    has containment 1.0 but Jaccard ≈ |short|/|long|.

    Candidates come from the SAME MinHash band buckets as the Jaccard
    path (a contained doc shares all its shingles, so band collisions
    remain likely); verification computes both directional containments
    exactly. Plan shape is identical to :func:`minhash_dedup_pairs` —
    one extra projection, no new shuffles.
    """
    hashed = shingle_hashes(df, text_col, id_col, k).persist()
    sigs = minhash_signatures(df, text_col, id_col, k,
                              hashed=hashed, n_perms=n_perms)
    cand = minhash_band_pairs(sigs, id_col, n_bands)
    sizes = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    ha = hashed.select(F.col(id_col).alias("doc_a"), "h")
    hb = hashed.select(F.col(id_col).alias("doc_b"), "h")
    common = (cand.join(ha, "doc_a").join(hb, ["doc_b", "h"])
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).alias("common")))
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (common.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    (F.col("common") / F.least("n_a", "n_b"))
                     .alias("containment"),
                    (F.col("common") / F.col("n_a")).alias("containment_a"),
                    (F.col("common") / F.col("n_b")).alias("containment_b"))
            .filter(F.col("containment") >= threshold)
            .transform(final_sort, "doc_a", "doc_b"))


def duplicate_ngram_stats(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Per-document duplicate n-gram exposure — the memorization-risk
    datasheet column from "Deduplicating Training Data Makes Language
    Models Better" (Lee et al. 2022, arXiv:2107.06499): for each
    document, the fraction of its DISTINCT k-gram shingles that also
    occur in at least one OTHER document. Near-1 rates flag boilerplate
    and templated spam that pairwise dedup (which needs a single matching
    partner above a Jaccard bar) can miss entirely.

    Output: ``(doc_id, n_ngrams, n_dup_ngrams, dup_ngram_rate)``.
    Documents with fewer than ``k`` tokens have no shingles and are
    absent — no n-grams means no exposure to measure.

    Scale shape: distinct (doc, shingle-hash) pairs → document-frequency
    per shingle (combinable groupBy, shingle-vocab-sized result) → one
    equi-join back on the hash → per-doc combinable agg. Two shuffles of
    the shingle table, never a pair join; cost is corpus-linear. (A
    window count over h would save the join but materializes every hot
    shingle's rows in one task — the groupBy stays combinable under
    boilerplate skew, so it wins at scale.)

    The shingle frame feeds both the frequency agg and the join probe;
    it is persisted, and cache lifetime is owned by the caller (same
    contract as :func:`minhash_dedup_pairs`).
    """
    hashed = shingle_hashes(df, text_col, id_col, k).persist()
    # df(h) = number of docs containing shingle h (pairs are distinct)
    dfreq = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    return (hashed.join(dfreq, "h")
                  .groupBy(id_col)
                  .agg(F.count(F.lit(1)).alias("n_ngrams"),
                       F.sum(F.when(F.col("_df") >= 2, 1).otherwise(0))
                        .cast("bigint").alias("n_dup_ngrams"))
                  .select(F.col(id_col), "n_ngrams", "n_dup_ngrams",
                          (F.col("n_dup_ngrams") / F.col("n_ngrams"))
                           .alias("dup_ngram_rate"))
                  .transform(final_sort, id_col))
