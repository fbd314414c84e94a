"""Deterministic floating-point aggregation helpers.

Double addition is not associative, so a plain ``SUM(double)`` over a
shuffled 100 TB table returns a *different last-ulp value per run* — which
breaks reproducibility and value-hash comparison against any oracle. Two
strategies, chosen by data shape:

1. **Business values with a known decimal scale** (prices, quantities —
   all 2-decimal here): cast to ``DECIMAL(18,2)`` and sum exactly. The
   cast recovers the *intended* decimal value identically in Spark and
   DuckDB (Spark goes through the double's shortest decimal repr, DuckDB
   rounds the exact binary expansion — both land on the clean 2-dp value).
   Do NOT use high scales like DECIMAL(26,12) for this: at scale 12 the
   two engines disagree about digit 13 of a dirty double and the per-row
   difference accumulates past one ulp of the final sum.

2. **Arbitrary doubles** (embedding arithmetic): exact decimal is
   unreachable, so force a *deterministic order* instead — a sequential
   left fold (``F.aggregate``) matches DuckDB's ``list_reduce`` bit for
   bit.

Sums stay map-side combinable and shuffle one value per group.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Exact for 2-decimal business values; 16 integral digits of headroom.
MONEY = "decimal(18,2)"


def dsum(c: Column) -> Column:
    """Deterministic ``SUM`` of a 2-decimal business column."""
    return F.sum(c.cast(MONEY)).cast("double")


def davg(c: Column) -> Column:
    """Deterministic ``AVG``: exact decimal sum ÷ non-null count."""
    return (F.sum(c.cast(MONEY)).cast("double") / F.count(c)).cast("double")


def ddot(a: Column, b: Column) -> Column:
    """Deterministic dot product of two ``array<float>`` columns.

    Sequential left-fold in double: ``acc + a[i]*b[i]`` in index order,
    which DuckDB's ``list_reduce`` over ``list_zip`` reproduces exactly.
    Order-dependence is confined to *within one row*, so partitioning
    still cannot change the result.

    This is the ORACLE form: lambda higher-order functions are
    expression-interpreted, so at real embedding dims (768+) the fold
    dominates similarity scoring. :func:`ddot_arrow` is the throughput
    form — still deterministic, not bit-identical to this fold.

    r12: one fused index fold instead of ``zip_with`` (materialize the
    product array) + ``aggregate`` (walk it): same multiplies, same
    adds, same left-to-right order — bit-identical values — with one
    interpreted pass and no per-pair array allocation. ``greatest`` of
    the two sizes reproduces ``zip_with``'s null-padding on (never
    expected) length mismatches: any out-of-range index yields a null
    product and nulls the whole fold, exactly as before.

    A NULL input yields NULL. ``greatest`` skips a NULL size, so without
    the first branch a NULL array paired with an empty one would take
    the ``n == 0`` branch and read 0.0.
    """
    n = F.greatest(F.size(a), F.size(b))
    # when(n == 0): sequence(0, -1) would DESCEND, not be empty — return
    # the fold's init value directly, as aggregate([]) does.
    return (F.when(a.isNull() | b.isNull(), F.lit(None).cast("double"))
            .when(n == 0, F.lit(0.0))
            .otherwise(F.aggregate(
                F.sequence(F.lit(0), n - 1),
                F.lit(0.0),
                lambda acc, i: acc + (F.get(a, i).cast("double")
                                      * F.get(b, i).cast("double")))))


def make_ddot_arrow():
    """Arrow-vectorized dot product: ``pandas_udf`` over numpy.

    10-100× the fold's throughput at large dims (one Arrow batch
    crossing, SIMD multiply-add) and still DETERMINISTIC — numpy's
    reduction order is fixed for a given shape, so the same row yields
    the same double on every run and partitioning. It is NOT
    bit-identical to the sequential fold (different association), which
    is why oracle-checked queries keep :func:`ddot` and scale paths can
    swap this in behind the same call shape.

    Returned as a factory so importing this module never forces a
    pyarrow requirement on callers that only need the decimal helpers.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: under `from __future__ import annotations` they are
    # strings pyspark's hint parser can't resolve here; the explicit
    # pandas_udf(fn, type) form selects the scalar UDF directly.
    def _ddot_arrow(a, b):
        return pd.Series([
            float(np.dot(np.asarray(x, dtype=np.float64),
                         np.asarray(y, dtype=np.float64)))
            for x, y in zip(a, b)
        ])

    return pandas_udf(_ddot_arrow, "double")
