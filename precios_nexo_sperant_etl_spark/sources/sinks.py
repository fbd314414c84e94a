"""Sink operators (reference S6-S11 — SURVEY §2.1).

The reference writes xlsx workbooks per project plus JSON/CSV artifacts.
Engine-side, the scalable analogs are partitioned parquet / JSON / CSV
writes; the xlsx workbook shims are driver-side conveniences over the
*already reduced* outputs (audit summaries are ≤ |projects| rows), kept
behind an import guard since Excel libs may be absent.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def safe_filename(name: object) -> str:
    """F20 (APN:101-102): whitelist filename characters."""
    return re.sub(r"[^A-Za-z0-9._ \-\(\)]", "", str(name)).strip() or "Proyecto"


def write_partitioned(df: DataFrame, path: str, partition_col: str = "Proyecto",
                      fmt: str = "parquet", front_cols: Sequence[str] = ()) -> None:
    """S6 (APN:399-406): one output per group, canonical columns first.

    ``partitionBy`` writes each group to its own directory in one job —
    the distributed analog of the reference's groupby → to_excel loop.
    Empty groups produce no directory (S8's skip-empty is free).
    """
    cols = [c for c in front_cols if c in df.columns]
    rest = [c for c in df.columns if c not in cols]
    (df.select(*cols, *rest)
       .write.mode("overwrite").partitionBy(partition_col).format(fmt).save(path))


def write_json_records(df: DataFrame, path: str) -> None:
    """S9 (python_json.py:198-205): row dump; Spark writes nulls natively
    (the reference's NaN→None pass is unnecessary engine-side)."""
    df.write.mode("overwrite").json(path)


def write_json_document(doc: dict, path: str) -> None:
    """S10 (python_json.py:80-82): driver-side pretty JSON for the (tiny)
    KPI document — matches ensure_ascii=False, indent=2."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, ensure_ascii=False, indent=2)


def write_csv_quoted(df: DataFrame, path: str) -> None:
    """S11 (index.html:108-118): CSV export with every field quoted and
    embedded quotes doubled — ``quoteAll`` reproduces the dashboard's
    ``csvEscape`` exactly."""
    (df.write.mode("overwrite")
       .option("header", True).option("quoteAll", True)
       .option("escape", '"')  # RFC 4180 doubled quotes, not backslash
       .csv(path))


def write_bucketed(df: DataFrame, table: str, keys: Sequence[str],
                   n_buckets: int = 64, sorted_by_keys: bool = True,
                   fmt: str = "parquet") -> None:
    """Bucketed (and optionally sorted) managed-table write — the scale
    sink for fact tables that are joined or aggregated on ``keys``
    repeatedly.

    Bucketing pays the hash exchange ONCE at write time; every later
    join/agg on the bucket keys between co-bucketed tables runs
    shuffle-free (proved by ``tests/test_bucketing.py``'s plan
    assertion). ``sortBy`` additionally removes the per-query sort from
    sort-merge joins. At 100 TB this converts the recurring dominant
    exchange of the workload into a one-time write-side cost — choose
    ``n_buckets`` so each bucket file stays in the 100 MB–1 GB range.
    """
    w = df.write.mode("overwrite").format(fmt).bucketBy(n_buckets, *keys)
    if sorted_by_keys:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def write_audit_workbook(resumen: DataFrame, solo_nexo: DataFrame,
                         solo_sperant: DataFrame, path: str) -> list[str]:
    """S7 (APN:482-487): the 3-sheet audit workbook — ONE file with sheets
    ``Resumen`` / ``Solo_en_df_total`` / ``Solo_en_sperant``, fed by
    ``update_prices``' ``resumen``/``solo_nexo``/``solo_sperant`` outputs.

    All three inputs are already reduced (≤ |projects| rows), so the
    driver-side ``toPandas`` is bounded regardless of fact-table scale —
    the same argument as the reference's own ``pd.ExcelWriter`` stage.
    Written with the stdlib ``excel.write_xlsx`` (no Excel engine
    needed), so the artifact is a real single-file workbook in every
    environment. Returns the written paths.
    """
    from .excel import write_xlsx

    sheets = {
        "Resumen": _sheet_matrix(resumen),
        "Solo_en_df_total": _sheet_matrix(solo_nexo),
        "Solo_en_sperant": _sheet_matrix(solo_sperant),
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    write_xlsx(path, sheets)
    return [path]


def _sheet_matrix(df: DataFrame) -> list[list[object]]:
    """Header + rows as the raw matrix ``excel.write_xlsx`` takes —
    NaN/NaT normalized to empty cells like ``to_excel`` would."""
    import math
    rows = [list(df.columns)]
    for r in df.collect():
        rows.append([None if (isinstance(v, float) and math.isnan(v)) else v
                     for v in r])
    return rows


def write_excel_per_group(df: DataFrame, out_dir: str,
                          group_col: str = "Proyecto") -> list[str]:
    """S6/S8 xlsx sink: one workbook per group, driver-side, for outputs
    already reduced to human scale — written with the stdlib
    ``excel.write_xlsx`` so it works without any Excel engine. Two
    groups whose names give the same file name, compared without case,
    raise ``ValueError`` before anything is written."""
    from .excel import check_unique_names, write_xlsx
    groups = list(df.toPandas().groupby(group_col, dropna=False))
    files = [f"{safe_filename(name)}.xlsx" for name, _ in groups]
    check_unique_names([name for name, _ in groups], files, "file name")
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for (name, g), file in zip(groups, files):
        target = os.path.join(out_dir, file)
        matrix = [list(g.columns)] + [
            [None if (isinstance(v, float) and v != v) else v for v in row]
            for row in g.itertuples(index=False)]
        write_xlsx(target, {str(name): matrix})
        written.append(target)
    return written
