"""The dashboard session: one client issuing queries back to back over
the published ``records.json``, and pandas answers to check them by.

A round is a fixed script of interactions. A filter or search change is
followed by the sorted page and the four chart aggregations the reference
dashboard recomputes on each change; page flips, a CSV export of the
filtered view and one unit lookup are mixed in. Every query is one op.
"""

from __future__ import annotations

import csv
import glob
import math
import os
import random

import pandas as pd
from pyspark.sql import functions as F

from precios_nexo_sperant_etl_spark.operators import kpi, pivot, serve

import gen

PROJ, PRICE, STATE, PISO = "Proyecto", "Precio de lista", "Estado de inmueble", "Piso"
UNIT_COLUMNS = ("Número de inmueble", "Numero de inmueble")
PAGE = 25
_NA = "\uffffNA"     # stands for NULL where pandas needs a value
SEARCHES = ("disp", "vend", "oculto", "visible", "mat", "era", "ad", "sep")


def _order():
    return [F.col(PRICE).desc_nulls_last(), F.col(PROJ).asc_nulls_first(),
            F.col(STATE).asc_nulls_first(), F.col(PISO).asc_nulls_first()]


def _sort_key(r: dict):
    price = r.get(PRICE)
    return ((price is None, -(price or 0.0)),
            *((r.get(c) is not None, r.get(c) or "") for c in (PROJ, STATE, PISO)))


class View:
    """The dashboard's current filter state, as a Spark plan and as rows."""

    def __init__(self, base, rows: list[dict]):
        self.base, self.rows = base, rows
        self.project = self.state = self.search = None

    def frame(self):
        df = serve.equality_filters(self.base, {PROJ: self.project, STATE: self.state})
        if self.search is not None:
            df = serve.global_search(df, self.search)
        return df

    def expected_rows(self) -> list[dict]:
        out = []
        for r in self.rows:
            if self.project is not None and r.get(PROJ) != self.project:
                continue
            if self.state is not None and r.get(STATE) != self.state:
                continue
            if self.search is not None and self.search.lower() not in _haystack(r):
                continue
            out.append(r)
        return out


def _haystack(r: dict) -> str:
    return "\x1f".join(str(r[c]) for c in sorted(r) if r[c] is not None).lower()


def script(rnd: random.Random, projects: list[str], lookups: list[str]) -> list[tuple]:
    """One round: (interaction, view change) pairs, 25 queries in all."""
    return [
        ("change", {"project": rnd.choice(projects), "state": None, "search": None}),
        ("flip", {}),
        ("change", {"project": None, "search": rnd.choice(SEARCHES)}),
        ("flip", {}),
        ("change", {"search": None, "state": rnd.choice(gen.NEXO_STATES)}),
        ("flip", {}),
        ("export", {}),
        ("unit_lookup", {"unit": rnd.choice(lookups)}),
        ("change", {"project": None, "state": None, "search": None}),
    ]


QUERIES = ("serve.sort_page", "kpi.value_counts", "kpi.kpi_by_group",
           "pivot.pivot_counts", "pivot.pct_within_group")


def run_query(name: str, df, page: int = 0):
    if name == "serve.sort_page":
        return [r.asDict() for r in serve.sort_page(df, _order(), page, PAGE).collect()]
    if name == "kpi.value_counts":
        return [tuple(r) for r in kpi.value_counts(df, STATE).collect()]
    if name == "kpi.kpi_by_group":
        return [r.asDict() for r in kpi.kpi_by_group(df, PROJ, PRICE).collect()]
    if name == "pivot.pivot_counts":
        return [r.asDict() for r in pivot.pivot_counts(df, PROJ, STATE, gen.NEXO_STATES).collect()]
    if name == "pivot.pct_within_group":
        return [r.asDict() for r in pivot.pct_within_group(df, PROJ, STATE).collect()]
    raise ValueError(name)


# --- pandas answers -----------------------------------------------------------

def frame(rows: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=[PROJ, PRICE, STATE, PISO])


def expected(name: str, rows: list[dict], pdf: pd.DataFrame, page: int = 0):
    if name == "serve.sort_page":
        return sorted(rows, key=_sort_key)[page * PAGE:(page + 1) * PAGE]
    if name == "kpi.value_counts":
        vc = pdf[STATE].fillna("__NA__").value_counts()
        return sorted(vc.items(), key=lambda kv: (-kv[1], kv[0]))
    if name == "kpi.kpi_by_group":
        g = pdf.groupby(PROJ, dropna=False)[PRICE]
        return {p: (len(s), s.mean(), s.median()) for p, s in g}
    if name == "pivot.pivot_counts":
        ct = pd.crosstab(pdf[PROJ].fillna(_NA), pdf[STATE].fillna(_NA))
        return {None if p == _NA else p:
                tuple(int(ct.loc[p][s]) if s in ct.columns else 0 for s in gen.NEXO_STATES)
                for p in ct.index}
    if name == "pivot.pct_within_group":
        c = pdf.fillna({PROJ: _NA, STATE: _NA}).groupby([PROJ, STATE]).size()
        tot = c.groupby(level=0).transform("sum")
        return {tuple(None if v == _NA else v for v in k):
                (int(n), gen.bround(100 * int(n) / int(t), 2)) for (k, n), t in zip(c.items(), tot)}
    raise ValueError(name)


def _num_eq(a, b, atol: float = 0.0) -> bool:
    a = None if a is None or (isinstance(a, float) and math.isnan(a)) else a
    b = None if b is None or (isinstance(b, float) and math.isnan(b)) else b
    if a is None or b is None:
        return a is b
    return abs(a - b) <= atol + 1e-9 * max(1.0, abs(b))


def matches(name: str, got, want) -> bool:
    if name == "serve.sort_page":
        cols = (PROJ, PRICE, STATE, PISO)
        return [tuple(r.get(c) for c in cols) for r in got] == \
               [tuple(r.get(c) for c in cols) for r in want]
    if name == "kpi.value_counts":
        return got == [(k, int(v)) for k, v in want]
    if name == "kpi.kpi_by_group":
        if {r[PROJ] for r in got} != set(want) or len(got) != len(want):
            return False
        # The program averages prices rounded to cents (an exact decimal
        # sum); pandas averages the floats. They differ by under half a cent.
        return all(r["unidades"] == want[r[PROJ]][0]
                   and _num_eq(r["precio_promedio"], want[r[PROJ]][1], 0.005)
                   and _num_eq(r["precio_median"], want[r[PROJ]][2]) for r in got)
    if name == "pivot.pivot_counts":
        return {r[PROJ]: tuple(r[s] for s in gen.NEXO_STATES) for r in got} == want \
            and len(got) == len(want)
    if name == "pivot.pct_within_group":
        have = {(r[PROJ], r[STATE]): (r["count"], r["pct"]) for r in got}
        return len(have) == len(got) and set(have) == set(want) and all(
            have[k][0] == want[k][0] and _num_eq(have[k][1], want[k][1]) for k in want)
    raise ValueError(name)


def check_export(path: str, want: list[dict]) -> bool:
    """Every field quoted, a header, and the view's rows."""
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    got = []
    for part in parts:
        with open(part, newline="", encoding="utf-8") as f:
            text = f.read()
        lines = [ln for ln in text.splitlines() if ln]
        if any(not (ln.startswith('"') and ln.endswith('"')) for ln in lines):
            return False
        got += list(csv.DictReader(text.splitlines()))
    key = lambda r: (r.get(PROJ) or "", r.get(STATE) or "", r.get(PISO) or "")  # noqa: E731
    return sorted(map(key, got)) == sorted(map(key, want))


def lookup_found(rows: list[dict], unit: str) -> bool:
    """A unit lookup succeeds when a returned record carries that unit."""
    return any(r.get(c) == unit for r in rows for c in UNIT_COLUMNS)
