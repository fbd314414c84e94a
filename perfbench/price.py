"""The price-update program, run end to end, and the checks of its outputs.

One run is the reference's cron job: Nexo workbooks and the Sperant
export in; per-project updated workbooks, the audit workbook, per-project
change-detail workbooks, ``kpis.json`` and ``records.json`` out.
"""

from __future__ import annotations

import glob
import json
import math
import os
from collections import Counter
from contextlib import nullcontext
from types import SimpleNamespace

from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from precios_nexo_sperant_etl_spark.plans import kpi_pipeline
from precios_nexo_sperant_etl_spark.plans.reference_pipeline import update_prices
from precios_nexo_sperant_etl_spark.sources import excel, ingest, sinks

import gen
from sheets import read_xlsx

_NUMERIC = {"precio_lista", "Precio_Final"}


def sperant_frame(spark, rows: list[list[object]]):
    """The Sperant sheet as a DataFrame: text columns as text, prices as
    doubles, and the sheet position as ``_ord`` (what pandas'
    ``read_excel`` plus the row index give the reference)."""
    header = [str(h) for h in rows[0]]
    schema = StructType(
        [StructField(h, DoubleType() if h in _NUMERIC else StringType()) for h in header]
        + [StructField("_ord", LongType())])
    data = []
    for i, r in enumerate(rows[1:]):
        data.append(tuple(
            (None if v is None else float(v)) if h in _NUMERIC
            else (None if v is None else str(v))
            for h, v in zip(header, r)) + (i,))
    return spark.createDataFrame(data, schema)


class Program:
    """Calls into the program's layers. The traced subclass in ``run.py``
    wraps each call in a span; this one adds nothing."""

    def span(self, name):
        return nullcontext(SimpleNamespace())

    def reader(self, fn):
        return fn


def run_program(spark, inp: gen.Inputs, out: str, distributed: bool,
                prog: Program) -> None:
    read = excel.read_xlsx_rows if inp.fmt == "xlsx" else excel.read_xls_rows
    fan_in = (ingest.ingest_project_files_distributed if distributed
              else ingest.ingest_project_files)
    with prog.span("ingest"):
        nexo = fan_in(spark, inp.nexo_files, reader=prog.reader(read))
    with prog.span("excel.read") as s:
        rows = excel.read_xlsx_rows(inp.sperant_path, sheet_name=gen.SPERANT_SHEET)
        s.size = os.path.getsize(inp.sperant_path)
    sperant = sperant_frame(spark, rows)
    with prog.span("reference_pipeline.update_prices"):
        res = update_prices(nexo, sperant)
    with prog.span("sinks.write_excel_per_group"):
        sinks.write_excel_per_group(res["updated"], os.path.join(out, "tablas_actualizadas"))
    with prog.span("sinks.write_audit_workbook"):
        sinks.write_audit_workbook(
            res["resumen"], res["solo_nexo"], res["solo_sperant"],
            os.path.join(out, "Auditoria", "Resumen_cambios_por_proyecto.xlsx"))
    with prog.span("sinks.write_excel_per_group"):
        sinks.write_excel_per_group(res["detalle"], os.path.join(out, "Auditoria", "Detalle"))
    with prog.span("kpi_pipeline.kpi_document"):
        doc = kpi_pipeline.kpi_document(res["updated"], ingest.COL_PRECIO)
    with prog.span("sinks.write_json_document"):
        sinks.write_json_document(doc, os.path.join(out, "kpis.json"))
    with prog.span("sinks.write_json_records"):
        sinks.write_json_records(kpi_pipeline.records(res["updated"]),
                                 os.path.join(out, "records.json"))


def output_bytes(out: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(out, "**"), recursive=True)
               if os.path.isfile(p))


# --- checks ---------------------------------------------------------------------

def _table(rows: list[list[object]]) -> list[dict]:
    header = rows[0]
    return [{h: (r[i] if i < len(r) else None) for i, h in enumerate(header)}
            for r in rows[1:]]


def _price(v) -> float | None:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return float(v)


def read_records(path: str) -> list[dict]:
    out = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            out += [json.loads(line) for line in f if line.strip()]
    return out


def _close(a, b, tol) -> bool:
    if a is None or b is None:
        return a is b
    return abs(a - b) <= tol


def check(out: str, exp: gen.Expected, projects: list[str]) -> list[str]:
    """Compare the written outputs with the independent answers; returns
    the failed checks (empty when everything holds)."""
    bad: list[str] = []
    col_num, col_price, col_state = ingest.COL_NUMERO, ingest.COL_PRECIO, ingest.COL_ESTADO

    # One updated workbook per project, holding that project's units.
    names = {os.path.basename(p) for p in glob.glob(os.path.join(out, "tablas_actualizadas", "*.xlsx"))}
    if names != {f"{sinks.safe_filename(p)}.xlsx" for p in projects}:
        bad.append(f"updated workbooks {sorted(names)}")
    got_updated = {}
    for p in projects:
        path = os.path.join(out, "tablas_actualizadas", f"{sinks.safe_filename(p)}.xlsx")
        if not os.path.exists(path):
            continue
        rows = _table(read_xlsx(path))
        if len(rows) != exp.unit_counts[p]:
            bad.append(f"{p}: {len(rows)} rows in its workbook, expected {exp.unit_counts[p]}")
        for r in rows:
            got_updated[(r["Proyecto"], r[col_num])] = (_price(r[col_price]), r[col_state])
    if len(got_updated) != sum(exp.unit_counts.values()):
        bad.append("updated rows differ from the Nexo rows")
    elif got_updated != exp.updated:
        diff = [k for k in exp.updated if got_updated.get(k) != exp.updated[k]]
        bad.append(f"updated values differ on {len(diff)} units, e.g. {diff[:3]}")

    # Audit workbook: summary counts, ratios and the two set differences.
    audit = os.path.join(out, "Auditoria", "Resumen_cambios_por_proyecto.xlsx")
    resumen = {r["Proyecto"]: r for r in _table(read_xlsx(audit, 0))}
    if set(resumen) != set(exp.resumen):
        bad.append(f"audit projects {sorted(resumen)}")
    for p, want in exp.resumen.items():
        got = resumen.get(p, {})
        if got.get("Con_Match", 0) + got.get("Sin_Match", 0) != got.get("Registros", -1):
            bad.append(f"{p}: Con_Match + Sin_Match != Registros")
        for k, v in want.items():
            if not _close(got.get(k), v, 1e-9):
                bad.append(f"{p}: {k} = {got.get(k)}, expected {v}")
    solo_nexo = [r[0] for r in read_xlsx(audit, 1)[1:]]
    solo_sperant = [r[0] for r in read_xlsx(audit, 2)[1:]]
    if solo_nexo != exp.solo_nexo or solo_sperant != exp.solo_sperant:
        bad.append(f"set differences {solo_nexo} / {solo_sperant}")

    # Change detail: exactly the changed units, one workbook per project.
    changed: Counter = Counter()
    for path in glob.glob(os.path.join(out, "Auditoria", "Detalle", "*.xlsx")):
        for r in _table(read_xlsx(path)):
            changed[(r["Proyecto"], r[col_num])] += 1
    if changed != exp.changed:
        bad.append(f"changed units: {len(changed)} written, {len(exp.changed)} expected")

    # kpis.json against statistics over the expected rows.
    with open(os.path.join(out, "kpis.json"), encoding="utf-8") as f:
        doc = json.load(f)
    doc.pop("generated_at", None)
    bad += _kpi_diff(doc, exp.kpis)

    # records.json: one record per Nexo row with the updated values.
    recs = Counter((r.get("Proyecto"), r.get(col_price), r.get(col_state), r.get("Piso"))
                   for r in read_records(os.path.join(out, "records.json")))
    if recs != exp.records:
        bad.append(f"records.json: {sum(recs.values())} records, "
                   f"{len(recs - exp.records)} unexpected")
    return bad


def _kpi_diff(got, want, where="kpis") -> list[str]:
    """Equal structure and order; list prices within a cent (the program
    averages in exact decimals, ``statistics`` in binary floats)."""
    if isinstance(want, dict):
        if not isinstance(got, dict) or list(got) != list(want):
            return [f"{where}: keys {list(got) if isinstance(got, dict) else got}"]
        out = []
        for k in want:
            out += _kpi_diff(got[k], want[k], f"{where}.{k}")
        return out
    if isinstance(want, float):
        return [] if _close(got, want, 0.0101) else [f"{where} = {got}, expected {want}"]
    return [] if got == want else [f"{where} = {got}, expected {want}"]
