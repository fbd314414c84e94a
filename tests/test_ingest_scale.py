"""Ingest fan-in at fleet scale (VERDICT r9 item 7): the Matera shape —
an 86-column export with duplicated headers (`tablas_actualizadas/
Matera.xlsx`: `Tipo Inmueble` ×4, `Piso` ×4, `Área Total` ×4; 189 data
rows) — replicated ×1000 files, ingested with the fan-in
(one executor task per file, no driver-side per-cell loop), then run
through the §3.1 pipeline operator chain (W1 dedup → J1/J2 match flags
→ F14 coalesce update → F16-F19 change flags → A1/A7 audit).

Parallelism model (also in PLANS.md): `ingest_project_files` is the one
fan-in. It parallelizes (project, path) with one partition per file,
parses on executors, collects COLUMN NAMES only (bounded by header
width × distinct layouts), and aligns rows to the name union
executor-side. The only driver-side work is path existence checks and
the names union.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from precios_nexo_sperant_etl_spark.operators.audit import (audit_summary,
                                                            change_flags)
from precios_nexo_sperant_etl_spark.operators.dedup import dedup_keep_latest
from precios_nexo_sperant_etl_spark.operators.join import match_flags
from precios_nexo_sperant_etl_spark.operators.update import coalesce_update
from precios_nexo_sperant_etl_spark.sources.excel import (read_xlsx_rows,
                                                          write_xlsx)
from precios_nexo_sperant_etl_spark.sources.ingest import (
    COL_ESTADO, COL_NUMERO, COL_PRECIO, ingest_project_files)

N_FILES = 1000
N_ROWS = 189


def _matera_sheet() -> list[list[object]]:
    """The observed Matera layout: banner rows, then an 86-wide header
    with duplicated names, then 189 data rows where the duplicate
    columns carry staggered non-nulls (the bfill shape)."""
    dup4 = ["Tipo Inmueble", "Piso", "Área Total"]
    header = ["Código de inmueble", "Precio Lista", "estado comercial"]
    for name in dup4:
        header += [name] * 4
    filler = [f"Col {i}" for i in range(86 - len(header))]
    header += filler
    rows: list[list[object]] = [
        ["REPORTE NEXO", *[""] * 85],
        ["", *[""] * 85],
    ]
    rows.append(header)
    for i in range(N_ROWS):
        unit = f"U-{i:04d}"
        price = f"{1000 + i},{i % 100:02d}"          # es-PE decimals
        estado = "Disponible (Visible)" if i % 3 else "No Disponible (Vendido)"
        cells = [unit, price, estado]
        for d in range(3):                            # the ×4 duplicates:
            quad = [None] * 4                         # value sits at a
            quad[(i + d) % 4] = f"v{d}-{i % 7}"       # rotating position
            cells += quad
        cells += [f"x{i % 5}"] * len(filler)
        rows.append(cells)
    return rows


@pytest.fixture(scope="module")
def matera_files(tmp_path_factory):
    td = tmp_path_factory.mktemp("matera")
    first = td / "Matera_0000.xlsx"
    write_xlsx(str(first), {"Resumen": _matera_sheet()})
    paths = {"Matera_0000": str(first)}
    for i in range(1, N_FILES):
        p = td / f"Matera_{i:04d}.xlsx"
        shutil.copy(str(first), str(p))
        paths[f"Matera_{i:04d}"] = str(p)
    return paths


def test_fan_in_heterogeneous_layouts(spark, tmp_path):
    """Expected values for the fan-in over heterogeneous layouts + one
    unreadable file + one missing path: both are warned-and-skipped, the
    columns are Proyecto, the first-seen union of the file headers, then
    _ord, and every row lands aligned by name."""
    sheet_a = _matera_sheet()
    sheet_b = [  # different layout: extra column, different aliases
        ["codigo", "precio", "estado", "Torre"],
        ["7", "1.234,50", "Disponible (Visible)", "T1"],
        ["8", "", "No Disponible (Separado)", "T2"],
    ]
    pa, pb, pc = (tmp_path / n for n in ("a.xlsx", "b.xlsx", "c.xlsx"))
    write_xlsx(str(pa), {"S": sheet_a})
    write_xlsx(str(pb), {"S": sheet_b})
    pc.write_bytes(b"not a zip at all")
    archivos = {"A": str(pa), "B": str(pb), "C": str(pc),
                "D": str(tmp_path / "missing.xlsx")}
    skips = []
    df = ingest_project_files(
        spark, archivos, reader=read_xlsx_rows, header_row=None,
        on_skip=lambda p, r: skips.append((p, r.split(":")[0])))
    assert sorted(skips) == [("C", "BadZipFile"), ("D", "not found")]

    fillers = [f"Col {i}" for i in range(71)]
    assert df.columns == (["Proyecto", COL_NUMERO, COL_PRECIO, COL_ESTADO,
                           "Tipo Inmueble", "Piso", "Área Total"]
                          + fillers + ["Torre", "_ord"])
    blank = (None,) * (3 + len(fillers))
    want = {("B", "7", 1234.5, "Disponible (Visible)", *blank, "T1", 0),
            ("B", "8", None, "No Disponible (Separado)", *blank, "T2", 1)}
    for i in range(N_ROWS):
        estado = "Disponible (Visible)" if i % 3 else "No Disponible (Vendido)"
        want.add(("A", f"U-{i:04d}", float(f"{1000 + i}.{i % 100:02d}"),
                  estado, *(f"v{d}-{i % 7}" for d in range(3)),
                  *(f"x{i % 5}",) * len(fillers), None, i))
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(want)
    assert set(got) == want


@pytest.fixture(scope="module")
def matera_ingested(spark, matera_files):
    df = ingest_project_files(spark, matera_files, reader=read_xlsx_rows)
    df.persist()
    yield df
    df.unpersist()


def test_matera_x1000_distributed_ingest(spark, matera_ingested):
    dist = matera_ingested
    # one task per file on the parse stage
    assert dist.rdd.getNumPartitions() >= 1
    n = dist.count()
    assert n == N_FILES * N_ROWS
    # duplicate-header collapse survived: exactly ONE of each dup name
    assert dist.columns.count("Tipo Inmueble") == 1
    assert dist.columns.count("Área Total") == 1
    # alias renames landed
    for c in (COL_NUMERO, COL_PRECIO, COL_ESTADO):
        assert c in dist.columns
    # the rotating non-null landed via first-non-null collapse
    got = (dist.where(F.col(COL_NUMERO) == "U-0006")
               .select("Proyecto", "Tipo Inmueble").limit(3).collect())
    assert all(r["Tipo Inmueble"] == "v0-6" for r in got)
    # es-PE price coercion on the canonical column
    p = dist.where(F.col(COL_NUMERO) == "U-0042") \
            .select(COL_PRECIO).first()[0]
    assert p == pytest.approx(1042.42)


def test_matera_x1000_through_price_pipeline(spark, matera_ingested):
    """§3.1 chain over the 189k ingested rows: the ingest output plays
    Nexo; a synthetic Sperant snapshot (2 dated rows per unit, W1 keeps
    the latest) updates prices/states; the audit must reconcile
    exactly."""
    nexo = matera_ingested.select(
        "Proyecto",
        F.col(COL_NUMERO).alias("unidad"),
        F.col(COL_PRECIO).alias("precio_antes"),
        F.col(COL_ESTADO).alias("estado_antes"))
    # Sperant: for every 2nd unit, two snapshot rows — stale and fresh
    units = spark.range(N_ROWS).select(
        F.format_string("U-%04d", F.col("id")).alias("unidad"),
        F.col("id").alias("i"))
    fresh = units.where(F.col("i") % 2 == 0).select(
        "unidad", (F.col("i") + 2000.0).alias("precio_nuevo"),
        F.lit("disponible").alias("estado_nuevo"),
        F.lit("2024-02-01").cast("date").alias("fecha"),
        F.lit(1).alias("ordinal"))
    stale = units.where(F.col("i") % 2 == 0).select(
        "unidad", F.lit(-1.0).alias("precio_nuevo"),
        F.lit("stale").alias("estado_nuevo"),
        F.lit("2024-01-01").cast("date").alias("fecha"),
        F.lit(0).alias("ordinal"))
    sperant = dedup_keep_latest(fresh.unionByName(stale), ["unidad"],
                                "fecha", tiebreak="ordinal")
    enriched = nexo.join(sperant.withColumnRenamed("unidad", "s_unidad"),
                         F.col("unidad") == F.col("s_unidad"), "left")
    enriched = match_flags(enriched, marker="s_unidad")
    enriched = (enriched
                .withColumn("precio_despues",
                            coalesce_update(F.col("precio_antes"),
                                            F.col("precio_nuevo")))
                .withColumn("estado_despues",
                            coalesce_update(F.col("estado_antes"),
                                            F.col("estado_nuevo"))))
    flagged = change_flags(enriched, price_before="precio_antes",
                           price_after="precio_despues",
                           state_before="estado_antes",
                           state_after="estado_despues")
    audit = audit_summary(flagged, "Proyecto")
    rows = audit.collect()
    assert len(rows) == N_FILES
    half = (N_ROWS + 1) // 2                      # units with a snapshot
    for r in rows:
        assert r["Registros"] == N_ROWS
        assert r["Con_Match"] == half
        assert r["Sin_Match"] == N_ROWS - half
        # every matched row changes price (baseline 10xx,xx vs i+2000)
        # AND state (es-PE estados vs 'disponible')
        assert r["Cambios"] == half
        assert r["Cambios_Precio"] == half
        assert r["Cambios_Estado"] == half
        assert r["Sin_Cambio"] == 0
