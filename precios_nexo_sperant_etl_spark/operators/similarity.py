"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the correctness baseline: a broadcast join of
the (small) query set against the corpus — the corpus side streams, never
shuffles, so it scales to any corpus size at O(|queries| · dim) work per
row. The LSH-bucketed variant is the sub-linear scale path: deterministic
pseudo-random hyperplanes hash vectors into sign buckets; only bucket
collisions are scored.

All arithmetic is sequential-fold double (``functions.exact.ddot``) so
results are partition-independent and reproducible in any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.exact import ddot
from .sortutil import final_sort

#: Deterministic hyperplane constants (pseudo-random but engine-portable).
_LSH_MULT = 2654435761
_LSH_JMULT = 40503
_LSH_MOD = 1_000_003


def _norm(v: Column) -> Column:
    return F.sqrt(ddot(v, v))


def _arr_lit(vals) -> Column:
    """Double-array literal as ONE SQL string — a ``F.array(*[F.lit(x)
    ...])`` of dim elements costs dim py4j crossings per call site,
    which dominates plan construction for k×dim centroid embeddings.
    ``repr`` round-trips every finite double exactly (shortest-repr
    guarantee) and Spark's ``D`` suffix parses it straight to double,
    so the embedded values are bit-identical to the lit form."""
    return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")")


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3,
                id_col: str = "vec_id", vec_col: str = "embedding",
                use_arrow: bool = False) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded).

    Deterministic ranking: cosine desc, then neighbor id asc.
    ``use_arrow`` swaps the interpreted sequential-fold dot product for
    the Arrow/numpy one (``exact.make_ddot_arrow``): same API, same
    determinism, 10-100× throughput at real embedding dims — but not
    bit-identical to the fold, so oracle-checked queries keep the
    default.
    """
    if use_arrow:
        from ..functions.exact import make_ddot_arrow
        dot = make_ddot_arrow()
    else:
        dot = ddot
    # Norms are hoisted to one fold PER VECTOR before the cross join
    # (bit-identical — the same sqrt(fold) expression on the same row)
    # instead of two folds per (query, candidate) pair: per-pair work
    # drops to the single dot fold, the same hoist
    # embedding_neardup_lsh measured 8.7 s → 5.3 s.
    q = (emb.filter(F.col(id_col).isin(query_ids))
            .select(F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("qv"),
                    F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
                    .alias("qn")))
    # r12: the per-candidate folds run in the candidate scan's split
    # count — one task on a single-file bench table; spread to core
    # width (no-op on multi-split input, see operators.spread).
    from .spread import fanout
    c = fanout(emb).select(F.col(id_col).alias("neighbor_id"),
                           F.col(vec_col).alias("cv"),
                           F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
                           .alias("cn"))
    scored = (broadcast(q).crossJoin(c)
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      (dot(F.col("qv"), F.col("cv"))
                       / (F.col("qn") * F.col("cn"))).alias("cosine")))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .transform(final_sort, "query_id", "rank"))


def lsh_bucket_expr(vec_col: str, n_planes: int = 8) -> str:
    """SQL: sign-bucket id from ``n_planes`` deterministic hyperplanes.

    Plane j's i-th coordinate is ``((i*M + j*J) % P)/P - 0.5`` — generated
    on the fly from the element index, so no plane matrix is stored or
    broadcast. Bucket bit j = sign of <v, plane_j>.
    """
    dots = (f"transform(sequence(0, {n_planes - 1}), j -> "
            f"aggregate(transform(sequence(1, size({vec_col})), i -> "
            f"  CAST({vec_col}[i - 1] AS DOUBLE) * "
            f"  ((CAST((i * {_LSH_MULT}L + j * {_LSH_JMULT}L) % {_LSH_MOD} AS DOUBLE)"
            f"    / {_LSH_MOD}.0) - 0.5)), "
            f"0.0D, (a, x) -> a + x))")
    return (f"aggregate(transform(sequence(0, {n_planes - 1}), j -> "
            f"CASE WHEN element_at({dots}, j + 1) >= 0 THEN shiftleft(1L, j) ELSE 0L END), "
            f"0L, (a, x) -> a + x)")


def duck_lsh_bucket_expr(vec_col: str, n_planes: int = 8) -> str:
    """DuckDB twin of :func:`lsh_bucket_expr`, mirrored operation-for-
    operation so an oracle can reproduce the bucket assignment (and thus
    the LSH candidate set) bit-exactly: same integer plane generation,
    same sequential left-fold dot product, same sign threshold. DuckDB
    lists are 1-based where Spark arrays are 0-based, so ``v[i]`` here
    addresses the element Spark reads as ``v[i - 1]``."""
    dot_j = (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
             f"list_transform(range(1, len({vec_col}) + 1), i -> "
             f"  CAST({vec_col}[i] AS DOUBLE) * "
             f"  (CAST((i * {_LSH_MULT} + j * {_LSH_JMULT}) % {_LSH_MOD} AS DOUBLE)"
             f"    / {_LSH_MOD}.0 - 0.5))), "
             f"(x, y) -> x + y)")
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(range(0, {n_planes}), j -> "
            f"CASE WHEN {dot_j} >= 0 THEN CAST(1 AS BIGINT) << j "
            f"ELSE CAST(0 AS BIGINT) END)), (x, y) -> x + y)")


def ivf_cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    cell_col: str = "label", n_probe: int = 2) -> DataFrame:
    """IVF-style approximate top-k: vectors are pre-assigned to coarse
    cells (here the existing ``label`` column stands in for k-means cell
    ids); a query scores only the ``n_probe`` cells whose centroids are
    closest to it. Per-query work drops from |corpus| to
    |corpus| * n_probe / n_cells; the centroid table is tiny and
    broadcast. Recall is measured against :func:`cosine_topk` in tests.
    """
    from pyspark.sql import Window

    # Cell centroids via the id-ordered exact fold (label_centroids):
    # partition-independent doubles, so probe selection is deterministic
    # and the whole IVF chain is oracle-expressible. One shuffle keyed by
    # (cell, dim).
    dims = (label_centroids(emb, vec_col=vec_col, id_col=id_col,
                            group_col=cell_col)
            .groupBy(cell_col)
            .agg(F.array_sort(F.collect_list(
                 F.struct("dim", F.col("centroid").alias("m")))).alias("s"))
            .select(cell_col, F.expr("transform(s, p -> p.m)").alias("centroid")))
    q = (emb.filter(F.col(id_col).isin(query_ids))
            .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")))
    # rank cells per query by centroid cosine, keep n_probe
    qc = (broadcast(q).crossJoin(broadcast(dims))
          .select("query_id", "qv", cell_col,
                  (ddot(F.col("qv"), F.col("centroid"))
                   / (_norm(F.col("qv")) * _norm(F.col("centroid")))).alias("csim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc(cell_col))
    probes = (qc.withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= n_probe).select("query_id", "qv", cell_col))
    # Same per-vector norm hoist as cosine_topk: one fold per row on
    # each side instead of two folds per scored pair (bit-identical).
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
                   cell_col, _norm(F.col(vec_col)).alias("cn"))
    scored = (broadcast(probes.withColumn("qn", _norm(F.col("qv"))))
              .join(c, cell_col)
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      (ddot(F.col("qv"), F.col("cv"))
                       / (F.col("qn") * F.col("cn"))).alias("cosine")))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w2))
                  .filter(F.col("rank") <= k)
                  .transform(final_sort, "query_id", "rank"))


def assign_kmeans_cells(emb: DataFrame, n_cells: int = 10, n_iter: int = 3,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        cell_col: str = "cell") -> DataFrame:
    """Deterministic k-means cell assignment (fixed Lloyd iterations) —
    the real IVF coarse quantizer, replacing the label-column stand-in.

    Init: the vectors of the ``n_cells`` smallest ids (deterministic —
    no RNG, reproducible across engines/partitionings). Each iteration:
    assign every vector to its nearest centroid (squared-L2 via one
    fold per cell against centroid LITERALS — the centroid table is
    k×dim tiny, so it rides into the plan as constants, no join), then
    recompute centroids as per-dimension means (posexplode + one
    combinable shuffle, collected to the driver: k×dim values).

    Scale shape: per iteration one linear scan + one tiny agg; k·dim
    multiply-adds per row stay modest for coarse quantizers (k ≤ 1024).
    For large k·dim move the argmin into a vectorized Pandas UDF matrix
    product — same plan, denser arithmetic.
    """
    centroids = kmeans_fit(emb, n_cells=n_cells, n_iter=n_iter,
                           id_col=id_col, vec_col=vec_col)
    return assign_cells_fold(emb, centroids, vec_col=vec_col,
                             cell_col=cell_col)


def assign_cells_fold(emb: DataFrame, centroids: list[list[float]],
                      vec_col: str = "embedding",
                      cell_col: str = "cell") -> DataFrame:
    """Nearest-centroid assignment via the interpreted sequential fold
    against centroid literals — the bit-exact, oracle-expressible twin
    of :func:`assign_cells_arrow` (same argmin tie-break: smallest cell
    index)."""
    structs = []
    for ci, c in enumerate(centroids):
        carr = _arr_lit(c)
        d2 = (ddot(F.col(vec_col), F.col(vec_col))
              - 2.0 * ddot(F.col(vec_col), carr)
              + ddot(carr, carr))
        structs.append(F.struct(d2.alias("d"), F.lit(ci).alias("c")))
    return emb.withColumn(cell_col, F.array_min(F.array(*structs))["c"])


def kmeans_fit(emb: DataFrame, n_cells: int = 10, n_iter: int = 3,
               id_col: str = "vec_id", vec_col: str = "embedding",
               arrow_iters: bool = False) -> list[list[float]]:
    """The Lloyd-iteration FIT alone: returns the trained centroid list
    (k×dim floats) without building an assignment plan. Split out so
    consumers that share a quantizer (IVF top-k, MRR eval, SemDeDup)
    can fit once and reuse the centroids — the fit is the only part of
    the chain with driver-side rounds (one k×dim collect per
    iteration), so reusing it turns every consumer after the first into
    a purely lazy plan.

    ``arrow_iters=True`` runs each iteration's ASSIGNMENT through the
    Arrow matmul instead of the interpreted fold. The fold's k×dim
    expression tree costs seconds of Catalyst analysis per iteration,
    which dominates the fit at coarse-quantizer scale; the matmul plan
    is constant-size. The centroid RECOMPUTE stays the id-ordered
    exact fold either way, so the trajectories agree whenever the
    assignments do (no ulp-level distance ties — pinned by the
    fold-vs-arrow equivalence pytest, the same bet the driver-green
    semdedup queries take)."""
    first = (emb.orderBy(id_col).limit(n_cells)
                .select(vec_col).collect())
    centroids = [list(r[0]) for r in first]

    # The fit jobs are overhead-dominated at coarse-quantizer scale
    # (k×dim centroids from a sample-sized table): cap the fit-side
    # parallelism so each Lloyd round is a handful of tasks, not a full
    # shuffle fan-out. Values are unchanged — the centroid recompute is
    # the id-ordered exact fold, partition-independent by construction.
    # (At 100 TB the fit runs on a sample anyway; the full-corpus pass
    # is the single downstream assign, which keeps native parallelism.)
    fit_emb = emb.coalesce(4)
    assign = assign_cells_arrow if arrow_iters else assign_cells_fold
    assign_kw = ({"id_col": id_col} if arrow_iters else {})

    for _ in range(n_iter):
        assigned = assign(fit_emb, centroids, vec_col=vec_col,
                          cell_col="__fit_cell", **assign_kw)
        # Means via the id-ordered exact fold: the collected centroid
        # doubles are partition-independent, so every Lloyd iteration —
        # and therefore the final assignment — is reproducible bit-for-
        # bit in any engine (the oracle unrolls these same iterations).
        means = (label_centroids(assigned, vec_col=vec_col, id_col=id_col,
                                 group_col="__fit_cell")
                 .collect())
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["__fit_cell"], {})[r["dim"]] = r["centroid"]
        centroids = [
            [by_cell[ci][d] for d in sorted(by_cell[ci])]
            if ci in by_cell else centroids[ci]          # empty cell: keep
            for ci in range(n_cells)
        ]
    return centroids


def assign_cells_arrow(emb: DataFrame, centroids: list[list[float]],
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       cell_col: str = "cell") -> DataFrame:
    """Vectorized nearest-centroid assignment: Arrow-batched
    ``mapInPandas``, one numpy ``(B×d)·(d×k)`` matmul per batch.

    This is the documented 100 TB path for the assign phase (the
    interpreted per-cell fold is O(n·k·d) with expression-tree
    constants; the matmul is the same arithmetic at BLAS speed).
    Tie-break matches the fold (smallest cell index among equal
    distances — numpy argmin picks the first minimum), but float
    SUMMATION ORDER differs from the sequential fold, so assignments
    can differ on exact distance ties at ulp level: use this for
    throughput, keep the fold path for oracle-checked queries.
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    c = np.asarray(centroids, dtype=np.float64)          # k×d
    cn = (c * c).sum(axis=1)                             # |c|² per cell

    from pyspark.sql.types import IntegerType, StructField, StructType
    # copy the fields: StructType.add mutates in place, and emb.schema
    # hands back the DataFrame's cached instance
    out_schema = StructType(list(emb.schema.fields)
                            + [StructField(cell_col, IntegerType())])

    def _batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue  # np.stack([]) raises; empty Arrow batch is legal
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = ((v * v).sum(axis=1)[:, None]
                  - 2.0 * (v @ c.T) + cn[None, :])
            pdf = pdf.copy()
            pdf[cell_col] = d2.argmin(axis=1).astype("int32")
            yield pdf

    return emb.mapInPandas(_batches, out_schema)


def assign_kmeans_cells_arrow(emb: DataFrame, n_cells: int = 10,
                              n_iter: int = 3, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              cell_col: str = "cell") -> DataFrame:
    """:func:`assign_kmeans_cells` with the Arrow matmul doing every
    assignment pass; centroid recompute stays the id-ordered exact fold
    (``label_centroids``), so iterations see the same centroids as the
    fold path whenever the assignments agree. Equivalence on real data
    is pinned in tests; the fold path remains the oracle surface.
    """
    first = (emb.orderBy(id_col).limit(n_cells)
                .select(vec_col).collect())
    centroids = [list(r[0]) for r in first]
    for _ in range(n_iter):
        assigned = assign_cells_arrow(emb, centroids, id_col=id_col,
                                      vec_col=vec_col, cell_col=cell_col)
        means = (label_centroids(assigned, vec_col=vec_col, id_col=id_col,
                                 group_col=cell_col)
                 .collect())
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r[cell_col], {})[r["dim"]] = r["centroid"]
        centroids = [
            [by_cell[ci][d] for d in sorted(by_cell[ci])]
            if ci in by_cell else centroids[ci]
            for ci in range(n_cells)
        ]
    return assign_cells_arrow(emb, centroids, id_col=id_col,
                              vec_col=vec_col, cell_col=cell_col)


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.9,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with
    ``cosine >= threshold`` — the EXACT baseline (O(n²) scoring), kept
    as the semantic ground truth the bucketed variant is measured
    against. At corpus scale use :func:`embedding_neardup_lsh`."""
    a = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    return (broadcast(a).crossJoin(b)
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b",
                    (ddot(F.col("va"), F.col("vb"))
                     / (_norm(F.col("va")) * _norm(F.col("vb")))).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .orderBy("vec_a", "vec_b"))


def embedding_neardup_lsh(emb: DataFrame, threshold: float = 0.9,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          n_planes: int = 6, n_probe: int = 1,
                          max_bucket_size: int | None = None) -> DataFrame:
    """Scale path for embedding near-dup: score only pairs sharing an LSH
    sign bucket. One shuffle on the bucket key; cost scales with
    Σ bucket², not n².

    Recall < 1 by design: a cosine-θ pair lands in the same bucket with
    probability (1 - θ/π)^planes. ``n_probe`` > 1 enables multi-probe:
    one side of the join is additionally exploded into the buckets at
    Hamming distance 1 (each single plane-bit flipped, ``n_probe - 1``
    lowest bits), which rescues pairs that disagree on exactly one
    plane — recall rises steeply (most misses are one-plane misses) for
    an (n_probe)× duplication of ONE side, far cheaper than fewer
    planes (which fattens every bucket quadratically). Measured against
    the exact baseline in tests.

    ``max_bucket_size`` is the DEGENERATE-BUCKET production guard, the
    same knob ``minhash_band_pairs`` ships: a dense cluster that no
    hyperplane splits makes one bucket's pair mass quadratic in the
    cluster size (measured on the ×10 stress corpus: max bucket 1024
    even at 10 planes — Σbucket² barely drops as planes grow). Buckets
    over the cap are excluded from pair expansion before the join (the
    kept-bucket table is ≤ 2^planes rows, broadcast); their members are
    by construction mutually-similar mass that belongs to the
    CLUSTER-level path (SemDeDup / centroid dedup), not pairwise
    scoring — exactly how production curation splits the work."""
    # Norms are hoisted to one fold PER VECTOR before the bucket join
    # (bit-identical — same expression on the same row) instead of two
    # folds per candidate pair: at Σbucket² pair volume the per-pair
    # work drops to the single ddot fold (measured 8.7s → 5.3s at
    # sf0.1). A statically-unrolled 64-term expression tree was tried
    # and is SLOWER than the fold (the 128-node tree falls out of
    # codegen), so the fold stays.
    #
    # r12: the plane/norm folds are interpreted per VECTOR and ran in
    # however many splits the scan gave — ONE task on a single-file
    # bench table (guide §2.5 input skew), 1.2 s serial of the capped
    # detector's 2.4 s. Spread to core width when the scan is narrower;
    # a no-op on real multi-split input.
    from .spread import fanout
    emb = fanout(emb)
    bucketed = (emb.withColumn("bucket",
                               F.expr(lsh_bucket_expr(vec_col, n_planes)))
                .withColumn("_nrm", _norm(F.col(vec_col))))
    if max_bucket_size is not None:
        # Three consumers below (census, a, b): persist so the plane
        # folds + norm run once, not thrice — same cache-lifetime
        # contract as the shingle frames in dedup_fuzzy (callers /
        # the parity harness clearCache() between queries).
        bucketed = bucketed.persist()
    probes = F.array(F.col("bucket"),
                     *[F.expr(f"bucket ^ CAST({1 << j} AS BIGINT)")
                       for j in range(min(max(n_probe - 1, 0), n_planes))])
    a = (bucketed.select(F.col(id_col).alias("vec_a"),
                         F.col(vec_col).alias("va"),
                         F.col("_nrm").alias("na"), "bucket")
                 .select("vec_a", "va", "na",
                         F.explode(probes).alias("bucket")))
    b = bucketed.select(F.col(id_col).alias("vec_b"),
                        F.col(vec_col).alias("vb"),
                        F.col("_nrm").alias("nb"), "bucket")
    if max_bucket_size is not None:
        keep = (bucketed.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("_bn"))
                .where(F.col("_bn") <= max_bucket_size)
                .select("bucket"))
        a = a.join(F.broadcast(keep), "bucket")
        b = b.join(F.broadcast(keep), "bucket")
    # r12: dedupe BEFORE the exact fold. Multi-probe gives the same
    # (a, b) pair one candidate row per shared bucket; scoring first
    # paid the interpreted 64-term fold per COPY and deduped after.
    # The distinct on the vector-carrying tuple is the same pair set
    # (va/na are functions of vec_a), and duplicate folds vanish —
    # measured 1.12 s → 0.89 s on the capped detector. (The
    # ids-only-distinct + join-back form that re-attaches vectors after
    # dedup — the 100 TB shape when pair volume dwarfs the corpus —
    # measured 5.0 s here: two extra exchanges dominate at bench scale.)
    cand = (a.join(b, "bucket")
             .filter(F.col("vec_a") < F.col("vec_b"))
             .select("vec_a", "vec_b", "va", "vb", "na", "nb")
             .distinct())
    return (cand.select("vec_a", "vec_b",
                        (ddot(F.col("va"), F.col("vb"))
                         / (F.col("na") * F.col("nb"))).alias("cosine"))
             .filter(F.col("cosine") >= threshold)
             .transform(final_sort, "vec_a", "vec_b"))


def semdedup_survivors_diverse(emb: DataFrame, threshold: float = 0.35,
                               n_cells: int = 10, n_iter: int = 3,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               arrow_assign: bool = False,
                               arrow_pairs: bool = False) -> DataFrame:
    """SemDeDup with the PAPER's keep policy (Abbas et al. 2023 §3):
    within each duplicate neighborhood keep the example with the LOWEST
    cosine to its cluster centroid — edge examples survive, prototypes
    are dropped, which preserves diversity where min-id keeps an
    arbitrary member.

    Mechanics: rank vectors within each cell by (centroid cosine ASC,
    id ASC); drop every vector that has a LOWER-RANK neighbor at
    cosine >= threshold. With rank = id order this degenerates to
    :func:`semdedup_survivors`; the rank is the only difference.
    Centroid cosines are sequential folds against the bit-stable
    collected centroids, so the survivor set is engine-reproducible and
    the whole chain (Lloyd + centroids + ranking + drops) has an
    unrolled-CTE oracle.
    """
    from pyspark.sql import Window

    # Same arrow_assign switch as semdedup_survivors: Arrow matmul for
    # every Lloyd assignment pass, fold path kept as the oracle surface.
    assign = assign_kmeans_cells_arrow if arrow_assign \
        else assign_kmeans_cells
    cells = assign(emb, n_cells=n_cells, n_iter=n_iter,
                   id_col=id_col, vec_col=vec_col
                   ).localCheckpoint(eager=True)
    means = (label_centroids(cells, vec_col=vec_col, id_col=id_col,
                             group_col="cell").collect())
    by_cell: dict[int, dict[int, float]] = {}
    for r in means:
        by_cell.setdefault(r["cell"], {})[r["dim"]] = r["centroid"]

    ccos = None
    for ci in sorted(by_cell):
        carr = _arr_lit(by_cell[ci][d] for d in sorted(by_cell[ci]))
        c = (ddot(F.col(vec_col), carr)
             / (_norm(F.col(vec_col)) * _norm(carr)))
        ccos = c if ccos is None else F.when(F.col("cell") == ci, c).otherwise(ccos)
    # build as nested when from the last cell outward; order irrelevant
    # since cells are disjoint
    ranked = cells.withColumn("ccos", ccos).withColumn(
        "rnk", F.row_number().over(
            Window.partitionBy("cell").orderBy(F.asc("ccos"),
                                               F.asc(id_col))))
    if arrow_pairs:
        # The rank itself stays the exact fold (its ORDER is what the
        # oracle replays); only the pair scoring moves to the per-cell
        # matmul, ordered by that rank.
        drops = (semdedup_drops_arrow(ranked, threshold, id_col=id_col,
                                      vec_col=vec_col, cell_col="cell",
                                      rank_col="rnk")
                 .withColumnRenamed("drop_id", "kb"))
    else:
        a = ranked.select(F.col(id_col).alias("ka"),
                          F.col(vec_col).alias("va"),
                          "cell", F.col("rnk").alias("ra"))
        b = ranked.select(F.col(id_col).alias("kb"),
                          F.col(vec_col).alias("vb"),
                          "cell", F.col("rnk").alias("rb"))
        drops = (a.join(b, "cell")
                  .filter(F.col("ra") < F.col("rb"))
                  .filter((ddot(F.col("va"), F.col("vb"))
                           / (_norm(F.col("va")) * _norm(F.col("vb"))))
                          >= threshold)
                  .select("kb").distinct())
    return (ranked.join(drops, ranked[id_col] == drops["kb"], "left_anti")
                  .select(F.col(id_col), F.col("cell"))
                  .transform(final_sort, id_col))


def semdedup_drops_arrow(cells: DataFrame, threshold: float,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         cell_col: str = "cell",
                         rank_col: str | None = None) -> DataFrame:
    """Arrow path for SemDeDup's pair scoring: one ``applyInPandas``
    task per cell computes the full pairwise cosine matrix as a numpy
    matmul and emits the ids to drop (any vector with a lower-id
    neighbor >= threshold). This is the paper's per-cluster-shard
    regime — O(cell²·d) BLAS instead of a pair join.

    Trade vs the join path: the WHOLE cell lands in one task (memory
    cell·d + cell² scores — fine to ~30k vectors/cell), while the
    equi-join spreads pairs across the cluster with no per-cell bound.
    Pick by cell size; same drop set either way up to ulp-level ties at
    the threshold (equivalence on real data pinned in tests).

    ``rank_col``: order vectors by this column instead of id before the
    lower-neighbor test — the hook for the paper's diversity keep
    policy (rank = centroid-cosine order, see
    :func:`semdedup_survivors_diverse`). Must be unique per vector
    within a cell (a ``row_number``).
    """
    import numpy as np
    import pandas as pd

    order_col = rank_col or id_col

    def _drops(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:  # np.stack([]) raises on an empty group
            return pd.DataFrame({"drop_id": pd.Series([], dtype="int64")})
        order = pdf[order_col].to_numpy().argsort(kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)[order]
        norms = np.sqrt((v * v).sum(axis=1))
        s = (v @ v.T) / (norms[:, None] * norms[None, :])
        close = np.triu(s >= threshold, k=1)       # i < j in id order
        drop = ids[close.any(axis=0)]
        return pd.DataFrame({"drop_id": drop.astype("int64")})

    cols = [F.col(cell_col), F.col(id_col), F.col(vec_col)]
    if rank_col is not None:
        cols.append(F.col(rank_col))
    return (cells.select(*cols)
                 .groupBy(cell_col)
                 .applyInPandas(_drops, "drop_id long")
                 .distinct())


def semdedup_survivors(emb: DataFrame, threshold: float = 0.35,
                       n_cells: int = 10, n_iter: int = 3,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       arrow_assign: bool = False,
                       arrow_pairs: bool = False) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the deterministic k-means
    coarse quantizer, then WITHIN each cluster drop every vector that has
    a lower-id neighbor with cosine >= ``threshold``; the min-id member
    of each semantic duplicate group survives.

    Scale shape — the whole point of the paper's clustering step: pair
    generation is bounded by Σ cell² instead of the corpus-wide n².
    Here that is one equi-join on the cell key (one shuffle per side);
    k-means cost is ``n_iter`` linear scans. All cosine arithmetic is
    the sequential-fold double (:func:`functions.exact.ddot`), so the
    survivor SET is bit-reproducible in any engine and the whole chain
    (Lloyd iterations included) can be value-hash-checked by an
    unrolled-CTE oracle.
    """
    # Materialize the assignment once: three consumers below (both join
    # sides + the anti-join base) would otherwise each replay the full
    # k·dim argmin scan. Same bounded-lifetime localCheckpoint pattern
    # as connected_components — storage is reclaimed on GC, nothing for
    # the caller to unpersist.
    #
    # ``arrow_assign`` swaps every Lloyd assignment pass for the Arrow
    # matmul gear (:func:`assign_kmeans_cells_arrow`) — the 100 TB
    # default for the registered query. The fold path stays the oracle
    # surface; fold≡arrow on real data is pinned in tests, and the two
    # can only diverge on exact-distance ties at ulp level.
    assign = assign_kmeans_cells_arrow if arrow_assign \
        else assign_kmeans_cells
    cells = assign(emb, n_cells=n_cells, n_iter=n_iter,
                   id_col=id_col, vec_col=vec_col
                   ).localCheckpoint(eager=True)
    if arrow_pairs:
        # Per-cell BLAS matmul scoring (one applyInPandas task per
        # cell) instead of the interpreted O(d)-per-pair fold on the
        # equi-join — the paper's per-cluster-shard regime. Same drop
        # set up to ulp ties at the threshold (pinned in tests); the
        # oracle stays on the fold semantics.
        drops = semdedup_drops_arrow(cells, threshold, id_col=id_col,
                                     vec_col=vec_col, cell_col="cell")
    else:
        a = cells.select(F.col(id_col).alias("keep_id"),
                         F.col(vec_col).alias("va"), "cell")
        b = cells.select(F.col(id_col).alias("drop_id"),
                         F.col(vec_col).alias("vb"), "cell")
        drops = (a.join(b, "cell")
                  .filter(F.col("keep_id") < F.col("drop_id"))
                  .filter((ddot(F.col("va"), F.col("vb"))
                           / (_norm(F.col("va")) * _norm(F.col("vb"))))
                          >= threshold)
                  .select("drop_id").distinct())
    return (cells.join(drops, cells[id_col] == drops["drop_id"],
                       "left_anti")
                 .select(F.col(id_col), F.col("cell"))
                 .transform(final_sort, id_col))


def lsh_cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_planes: int = 8) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's
    LSH sign bucket. Recall < 1 by design; measured against
    :func:`cosine_topk` in tests. The bucket join shuffles each side once
    on a single long key — no cross join anywhere."""
    bucketed = emb.withColumn("bucket", F.expr(lsh_bucket_expr(vec_col, n_planes)))
    q = (bucketed.filter(F.col(id_col).isin(query_ids))
                 .select(F.col(id_col).alias("query_id"),
                         F.col(vec_col).alias("qv"), "bucket"))
    c = bucketed.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("cv"), "bucket")
    scored = (broadcast(q).join(c, "bucket")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      (ddot(F.col("qv"), F.col("cv"))
                       / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias("cosine")))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .transform(final_sort, "query_id", "rank"))


#: Cap on rows per group for ``label_centroids(exact=True)`` — each
#: (group, dim) sorted value list materializes in ONE task, so beyond
#: this the exact path risks a silent executor OOM instead of a wrong
#: answer. ~4M (id, double) structs ≈ 100 MB per task buffer.
EXACT_CENTROID_MAX_GROUP_ROWS = 4_000_000


def label_centroids(emb: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", group_col: str = "label",
                    exact: bool = True,
                    exact_max_group_rows: int = EXACT_CENTROID_MAX_GROUP_ROWS,
                    ) -> DataFrame:
    """Per-group embedding centroids as flat (group, dim, centroid, n)
    rows — the building block of class prototypes, cluster summaries,
    and diversity sampling.

    ``exact=True`` (the oracle form) folds each (group, dim) value list
    in ``id_col`` order: double addition is not associative, so a plain
    AVG over a shuffled table drifts in the last ulp per run; the sorted
    sequential fold is partition-independent and reproduced bit-for-bit
    by DuckDB's ``list_reduce`` over ``list(v ORDER BY id)`` (same
    policy as ``functions.exact.ddot``). Cost: the per-(group, dim)
    value list materializes in one task — so the exact path is GUARDED:
    a cheap pre-count (combinable, one tiny job) raises ``ValueError``
    if any group exceeds ``exact_max_group_rows`` rather than letting a
    100× group silently OOM a task. The fallback is an explicit caller
    choice, not automatic — ``exact=False`` (a plain combinable AVG,
    deterministic to ~1 ulp only) changes bit-level semantics, and an
    oracle-form function must not do that behind the caller's back.
    """
    ex = emb.select(F.col(group_col), F.col(id_col),
                    F.posexplode(F.col(vec_col)).alias("dim", "v"))
    if not exact:
        return (ex.groupBy(group_col, "dim")
                .agg(F.avg(F.col("v").cast("double")).alias("centroid"),
                     F.count(F.lit(1)).alias("n_vectors")))
    oversized = (emb.groupBy(group_col)
                 .agg(F.count(F.lit(1)).alias("n"))
                 .filter(F.col("n") > exact_max_group_rows)
                 .orderBy(F.desc("n"))
                 .limit(3).collect())
    if oversized:
        worst = ", ".join(f"{r[group_col]}={r['n']}" for r in oversized)
        raise ValueError(
            f"label_centroids(exact=True): group(s) exceed "
            f"exact_max_group_rows={exact_max_group_rows} ({worst}); the "
            "exact fold materializes each (group, dim) value list in one "
            "task and would risk an executor OOM. Use exact=False (scale "
            "form, ~1 ulp nondeterminism) or raise exact_max_group_rows "
            "deliberately.")
    agg = (ex.groupBy(group_col, "dim")
           .agg(F.array_sort(F.collect_list(
                F.struct(F.col(id_col).alias("i"),
                         F.col("v").alias("v")))).alias("pairs")))
    vals = F.transform(F.col("pairs"), lambda p: p["v"].cast("double"))
    fold = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
    return agg.select(
        group_col, "dim",
        (fold / F.size("pairs")).alias("centroid"),
        F.size("pairs").cast("long").alias("n_vectors"))


def quantization_audit(emb: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       n_levels: int = 256) -> DataFrame:
    """Per-dimension audit of int8 scalar quantization — the 4×
    memory-compression step that makes billion-vector ANN serving fit
    in RAM (the SQ8 scheme of FAISS/ScaNN): per-dim corpus ``[min,
    max]`` → linear ``n_levels``-bucket code → midpoint dequantization,
    reporting the reconstruction error each dimension would incur.

    Output ``(dim, mn, mx, n_values, mse, max_abs_err)`` — the
    go/no-go table for enabling compression (dimensions with outlier
    tails show large max error and want clipping before SQ).

    Engine-exact: codes are ``floor`` of exact IEEE expressions (with a
    ``least`` guard for the divide-rounds-to-1.0 edge), min/max/max-abs
    are order-independent, and the MSE numerator is the id-ordered
    sequential fold (same policy as :func:`label_centroids`). Scale
    shape: one posexplode (rows × dim), a dim-keyed stats agg
    (64-to-768-row result, broadcast back), one combinable agg; the
    per-(dim) fold list holds n values — at corpus scale flip to a
    plain ``avg`` the same way ``label_centroids(exact=False)`` does.
    """
    L = n_levels - 1
    ex = (emb.select(F.col(id_col),
                     F.posexplode(F.col(vec_col)).alias("dim", "v0"))
             .select(id_col, "dim", F.col("v0").cast("double").alias("v")))
    stats = ex.groupBy("dim").agg(F.min("v").alias("mn"),
                                  F.max("v").alias("mx"))
    j = ex.join(F.broadcast(stats), "dim")
    scale = (F.col("mx") - F.col("mn")) / F.lit(float(L))
    code = (F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint"))
             .otherwise(F.least(
                 F.lit(L).cast("bigint"),
                 F.floor(((F.col("v") - F.col("mn"))
                          / (F.col("mx") - F.col("mn"))) * L))))
    deq = (F.when(F.col("mx") == F.col("mn"), F.col("mn"))
            .otherwise(F.col("mn")
                       + (code.cast("double") + F.lit(0.5)) * scale))
    err = F.col("v") - deq
    e = j.select(F.col(id_col), "dim", "mn", "mx",
                 err.alias("err"), (err * err).alias("e2"))
    sorted_e2 = F.array_sort(
        F.collect_list(F.struct(F.col(id_col).alias("i"),
                                F.col("e2").alias("e2"))))
    fold = F.aggregate(F.transform(sorted_e2, lambda s: s["e2"]),
                       F.lit(0.0), lambda a, x: a + x)
    return (e.groupBy("dim")
             .agg(F.min("mn").alias("mn"), F.min("mx").alias("mx"),
                  F.count(F.lit(1)).alias("n_values"),
                  fold.alias("_sse"),
                  F.max(F.abs(F.col("err"))).alias("max_abs_err"))
             .select("dim", "mn", "mx", "n_values",
                     (F.col("_sse") / F.col("n_values")).alias("mse"),
                     "max_abs_err")
             .orderBy("dim"))


def bitext_margin_pairs(docs: DataFrame, emb: DataFrame,
                        lang_a: str, lang_b: str,
                        k_margin: int = 4,
                        margin_threshold: float = 1.05,
                        n_planes: int = 6,
                        max_bucket_size: int | None = 256,
                        doc_id_col: str = "doc_id",
                        vec_id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    ratio-margin criterion behind LASER/CCMatrix): candidate
    translation pairs between ``lang_a`` and ``lang_b`` documents are
    scored by cosine DIVIDED by the average of each side's mean top-k
    candidate cosine — raw cosine over-fires on hub vectors that sit
    close to everything; the margin normalizes each anchor by its own
    neighborhood density, which is the whole trick.

    Scale shape: candidates come from a shared LSH sign-bucket join
    between the two language sides (never all-pairs; same plane
    generator as :func:`embedding_neardup_lsh`, with the same
    degenerate-bucket cap — capped buckets belong to the cluster-level
    path). Margins are computed WITHIN the candidate set (the
    production approximation: the same k-NN list the join already
    built), each mean folding its top-k cosines in rank order so the
    published micro-quantized margin is oracle-exact. One shuffle on
    the bucket key, one on each anchor side for the top-k window.
    """
    from pyspark.sql import Window

    from ..functions.exact import ddot

    def side(lang: str, suffix: str) -> DataFrame:
        ids = (docs.where(F.col("lang") == lang)
                   .select(F.col(doc_id_col).alias(f"id_{suffix}")))
        return (emb.join(ids, emb[vec_id_col] == F.col(f"id_{suffix}"))
                   .select(F.col(f"id_{suffix}"),
                           F.col(vec_col).alias(f"v_{suffix}"),
                           _norm(F.col(vec_col)).alias(f"n_{suffix}"),
                           F.expr(lsh_bucket_expr(vec_col, n_planes))
                            .alias("bucket")))

    a = side(lang_a, "a")
    b = side(lang_b, "b")
    if max_bucket_size is not None:
        for s, nm in ((a, "a"), (b, "b")):
            keep = (s.groupBy("bucket")
                     .agg(F.count(F.lit(1)).alias("_bn"))
                     .where(F.col("_bn") <= max_bucket_size)
                     .select("bucket"))
            if nm == "a":
                a = a.join(F.broadcast(keep), "bucket")
            else:
                b = b.join(F.broadcast(keep), "bucket")
    cand = (a.join(b, "bucket")
             .select("id_a", "id_b",
                     (ddot(F.col("v_a"), F.col("v_b"))
                      / (F.col("n_a") * F.col("n_b"))).alias("cosine"))
             .distinct())
    cand = cand.persist()

    def topk_mean(key: str) -> DataFrame:
        w = (Window.partitionBy(key)
                   .orderBy(F.desc("cosine"),
                            F.asc("id_b" if key == "id_a" else "id_a")))
        ranked = cand.withColumn("_r", F.row_number().over(w)) \
                     .where(F.col("_r") <= k_margin)
        fold = F.aggregate(
            F.transform(F.sort_array(F.collect_list(
                F.struct("_r", "cosine"))), lambda s: s["cosine"]),
            F.lit(0.0), lambda acc, x: acc + x)
        return (ranked.groupBy(key)
                .agg((fold / F.count(F.lit(1)).cast("double"))
                     .alias(f"mean_{key[-1]}")))

    scored = (cand.join(topk_mean("id_a"), "id_a")
                  .join(topk_mean("id_b"), "id_b")
                  .select("id_a", "id_b",
                          F.round(F.col("cosine") * F.lit(1000000.0))
                           .cast("long").alias("cosine_micro"),
                          F.round(F.col("cosine")
                                  / ((F.col("mean_a") + F.col("mean_b"))
                                     / F.lit(2.0)) * F.lit(1000000.0))
                           .cast("long").alias("margin_micro")))
    return (scored
            .where(F.col("margin_micro")
                   >= int(round(margin_threshold * 1000000)))
            .transform(final_sort, "id_a", "id_b"))
