"""KPI/records extraction (python_json.py, SURVEY §3.2): standardized
records dump + the nested KPI document {cards, by_proyecto, by_estado}.

The heavy work (counts, means, exact medians, value counts) happens in
one grouping-set aggregation — a ``cube`` over project and state, one
shuffle. Only its ≤ (|projects|+1)·(|states|+1) rows are collected, and
the nested dict is ordered on the driver: a serving-layer document, not a
dataset (at 100 TB the aggregate output is still that small).
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import davg
from ..sources.ingest import COL_NUMERO
from .reference_pipeline import canonical_units


def records(df: DataFrame, prefer: list[str] | None = None) -> DataFrame:
    """Stage 4 (python_json.py:192-205): ordered projection of the
    columns present, ready for ``df.write.json`` (Spark emits NULL for
    null doubles natively — the NaN→None hygiene pass is free). The
    accented names are the ones ingest produces; the unaccented ones are
    the reference's own spelling. Unit numbers are published canonical
    (``canonical_units``), as the update writes them, so a lookup by the
    unit's printed number finds it whether the frame came from ingest or
    from ``update_prices``."""
    if COL_NUMERO in df.columns:
        df = canonical_units(df)
    if prefer is None:
        prefer = ["Proyecto", COL_NUMERO, "Numero de inmueble",
                  "Precio de lista", "Precio de lista_num",
                  "Estado de inmueble", "Tipología", "Tipologia",
                  "Area techada", "Area techada_num", "Area total",
                  "Area total_num", "Dormitorios", "Dormitorios_num", "Piso"]
    cols = [c for c in prefer if c in df.columns]
    return df.select(*cols)


def kpi_document(df: DataFrame, price_col: str, project_col: str = "Proyecto",
                 state_col: str = "Estado de inmueble",
                 generated_at: str | None = None) -> dict[str, Any]:
    """Stage 5 (python_json.py:133-166): the nested KPI tree.

    Matches the reference's shape and rounding (``round(x, 2)`` half-even
    → ``bround``); per-state counts are ordered count-desc exactly like
    ``value_counts()``.
    """
    now = generated_at or dt.datetime.now().isoformat(timespec="seconds")
    out: dict[str, Any] = {"generated_at": now, "cards": {},
                           "by_proyecto": {}, "by_estado": {}}

    # One cube, read by grouping_id (a NULL project is a group of its own):
    # 0 = (project, state), 1 = project, 2 = state, 3 = all rows.
    # Each level gives what ``operators.kpi`` computes for it.
    price = F.col(price_col)
    estado = F.coalesce(F.col(state_col).cast("string"), F.lit("__NA__"))
    rows = (df.cube(F.col(project_col).alias("p"), estado.alias("e"))
              .agg(F.grouping_id().alias("g"), F.count(F.lit(1)).alias("n"),
                   davg(price).alias("avg"), F.median(price).alias("med"))
              .collect())
    level: dict[int, list] = {0: [], 1: [], 2: [], 3: []}
    for r in rows:
        level[r["g"]].append(r)

    def prices(rec: dict[str, Any], r) -> dict[str, Any]:
        if r["avg"] is not None:
            rec["precio_promedio"] = float(round(r["avg"], 2))
            rec["precio_median"] = float(round(r["med"], 2))
        return rec

    def by_count(rs) -> dict[str, int]:
        """``value_counts()`` order: count desc, then the value."""
        return dict(sorted(((r["e"], r["n"]) for r in rs),
                           key=lambda kv: (-kv[1], kv[0])))

    total = level[3][0] if level[3] else {"n": 0, "avg": None}
    out["cards"] = prices({"unidades_totales": total["n"]}, total)
    for r in sorted(level[1], key=lambda r: str(r["p"])):
        rec = prices({"unidades": r["n"]}, r)
        rec["por_estado"] = by_count(s for s in level[0] if s["p"] == r["p"])
        out["by_proyecto"][r["p"]] = rec
    out["by_estado"] = by_count(level[2])
    return out
