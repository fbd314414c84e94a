"""KPI/records extraction (python_json.py, SURVEY §3.2): standardized
records dump + the nested KPI document {cards, by_proyecto, by_estado}.

The heavy work (counts, means, exact medians, value counts) happens in
three Spark aggregations — grouped, combinable, one shuffle each. Only the
final tiny per-group rows are collected to assemble the nested dict, which
is a serving-layer document, not a dataset (at 100 TB the aggregate output
is still ≤ |projects| rows).
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.kpi import kpi_by_group, kpi_cards, value_counts
from ..sources.ingest import COL_NUMERO


def records(df: DataFrame, prefer: list[str] | None = None) -> DataFrame:
    """Stage 4 (python_json.py:192-205): ordered projection of the
    columns present, ready for ``df.write.json`` (Spark emits NULL for
    null doubles natively — the NaN→None hygiene pass is free). The
    accented names are the ones ingest produces; the unaccented ones are
    the reference's own spelling."""
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

    cards = kpi_cards(df, price_col).collect()[0]
    out["cards"]["unidades_totales"] = cards["unidades_totales"]
    if cards["precio_promedio"] is not None:
        out["cards"]["precio_promedio"] = float(round(cards["precio_promedio"], 2))
        out["cards"]["precio_median"] = float(round(cards["precio_median"], 2))

    per_project = kpi_by_group(df, project_col, price_col).collect()
    states = (df.groupBy(project_col,
                         F.coalesce(F.col(state_col).cast("string"),
                                    F.lit("__NA__")).alias("estado"))
                .count().collect())
    state_map: dict[str, dict[str, int]] = {}
    for r in states:
        state_map.setdefault(r[project_col], {})[r["estado"]] = r["count"]
    for r in sorted(per_project, key=lambda r: str(r[project_col])):
        rec: dict[str, Any] = {"unidades": r["unidades"]}
        if r["precio_promedio"] is not None:
            rec["precio_promedio"] = float(round(r["precio_promedio"], 2))
            rec["precio_median"] = float(round(r["precio_median"], 2))
        by_state = state_map.get(r[project_col], {})
        rec["por_estado"] = dict(
            sorted(by_state.items(), key=lambda kv: (-kv[1], kv[0])))
        out["by_proyecto"][r[project_col]] = rec

    out["by_estado"] = {
        r["value"]: r["count"] for r in value_counts(df, state_col).collect()}
    return out
