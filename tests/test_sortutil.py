"""The final-presentation sort's scale guardrail: under
``SPARK_GRAFT_SERIAL_SORT_GUARD`` a relation above the row bound falls
back to a parallel ``orderBy`` range sort instead of serializing into
one partition; at or below the bound (and with the guard unset) the
sampling-free ``repartition(1).sortWithinPartitions`` shape is kept."""

import os

import pytest

from precios_nexo_sperant_etl_spark.operators.sortutil import final_sort


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_guard_unset_keeps_serial_shape(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    assert "SPARK_GRAFT_SERIAL_SORT_GUARD" not in os.environ
    out = final_sort(df, "k")
    plan = _plan(out)
    assert "rangepartitioning" not in plan
    assert out.rdd.getNumPartitions() == 1
    assert [r["k"] for r in out.collect()] == list(range(1000))


def test_guard_falls_back_to_parallel_sort(spark, monkeypatch):
    from pyspark.sql import functions as F

    monkeypatch.setenv("SPARK_GRAFT_SERIAL_SORT_GUARD", "100")
    # a non-monotonic key, or Catalyst's EliminateSorts removes the
    # orderBy over the naturally-ordered Range entirely
    big = spark.range(1000).select((999 - F.col("id")).alias("k"))
    out = final_sort(big, "k")
    assert "rangepartitioning" in _plan(out)
    assert [r["k"] for r in out.collect()] == list(range(1000))

    small = spark.range(50).select((49 - F.col("id")).alias("k"))
    out_small = final_sort(small, "k")
    assert "rangepartitioning" not in _plan(out_small)
    assert [r["k"] for r in out_small.collect()] == list(range(50))


@pytest.mark.parametrize("raw", ["abc", "-1", "1.5"])
def test_bad_guard_value_names_the_variable(spark, monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_SERIAL_SORT_GUARD", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_SERIAL_SORT_GUARD"):
        final_sort(spark.range(3), "id")
