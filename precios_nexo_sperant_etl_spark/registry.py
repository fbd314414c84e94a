"""Registry of driver-checkable queries.

Every implemented operator from SURVEY.md §2 registers here as a
``(spark_fn, oracle_sql)`` pair. ``spark_fn(spark, sf_dir) → DataFrame``
is the PySpark implementation; ``oracle_sql`` is the equivalent ANSI SQL
DuckDB runs on the same parquet tables. The driver hash-compares the two
at sf0.01 (row count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides
  (mixed-case aliases are double-quoted in the SQL);
- floating-point aggregations route through exact decimal accumulation
  (``functions.exact``) so values are bit-identical regardless of
  partitioning — see that module's docstring;
- queries with no SQL equivalent (streaming, iterative) register
  ``oracle_sql=None`` and get the driver's weaker rows-only check.

The driver stamps only the first 50 ``queries()`` entries per round, so
that order is computed from the stamp ledger (``_ordered``), never from
registration order.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

#: Which queries hold driver stamps, from which round, and the fingerprint
#: each had when stamped (``python tools/stamp_ledger.py --update``).
_LEDGER = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "stamp_ledger.json")


def register(name: str, fn: QueryFn, oracle: str | None, doc: str = "") -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name: {name}")
    _REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=doc)


def _fingerprint(q: Query) -> str:
    """sha256 of the registered callable's source (for a lambda, the
    whole ``register(...)`` statement) plus the oracle SQL. Helpers the
    callable uses are not covered."""
    try:
        src = inspect.getsource(q.fn)
    except (OSError, TypeError):  # builtins/partial — fall back to repr
        src = repr(q.fn)
    return hashlib.sha256(
        (src + "\x00" + (q.oracle or "")).encode()).hexdigest()[:16]


def _read_ledger(path: str) -> dict[str, dict]:
    """``{name: {"fp": str, "round": int}}``; raises if the file is
    missing or not of that shape."""
    with open(path) as f:
        ledger = json.load(f)
    if not isinstance(ledger, dict) or not all(
            isinstance(rec, dict) and isinstance(rec.get("fp"), str)
            and isinstance(rec.get("round"), int)
            for rec in ledger.values()):
        raise ValueError(f"{path}: not a {{name: {{fp, round}}}} ledger")
    return ledger


def _stamp_order(fps: dict[str, str], ledger: dict[str, dict]) -> list[str]:
    """The names of ``fps`` (name → current fingerprint) in the order the
    driver should stamp them: never stamped, then changed since stamp,
    then current; oldest stamp round first within each class, then name.
    Ledger names missing from ``fps`` are ignored."""
    def key(name: str) -> tuple[int, int, str]:
        rec = ledger.get(name)
        if rec is None:
            return (0, 0, name)
        return (1 if rec["fp"] != fps[name] else 2, rec["round"], name)
    return sorted(fps, key=key)


@functools.cache
def _ordered() -> tuple[str, ...]:
    """The driver stamps only the first 50 ``queries()`` entries per
    round, so this order is its evidence budget: computed once per
    process from the ledger by ``_stamp_order``."""
    _load_all()
    return tuple(_stamp_order(
        {name: _fingerprint(q) for name, q in _REGISTRY.items()},
        _read_ledger(_LEDGER)))


def queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name].fn for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {name: _REGISTRY[name].oracle for name in _ordered()
            if _REGISTRY[name].oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # No try/except: a broken import here must fail loudly — swallowing it
    # would silently shrink queries()/oracle_sql() and the driver's
    # correctness gate would pass without checking the lost queries.
    from . import (queries_agg, queries_audit, queries_core,  # noqa: F401
                   queries_joins, queries_ml, queries_retrieval,
                   queries_scalar, queries_scale, queries_sketches,
                   queries_streaming)
    _LOADED = True
