"""End-to-end test of the reference-shaped pipeline (SURVEY §3.1) on a
miniature Nexo+Sperant fixture with hand-computed audit expectations
mirroring the committed Resumen artifacts' shape (FIXTURES.md §A3)."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from precios_nexo_sperant_etl_spark.plans.kpi_pipeline import records
from precios_nexo_sperant_etl_spark.plans.reference_pipeline import update_prices
from precios_nexo_sperant_etl_spark.sources.ingest import (COL_ESTADO, COL_NUMERO,
                                                           COL_PRECIO)
from tests.test_ingest import MESSY_SHEET, ingest_sheets


def _fixture(spark):
    nexo = ingest_sheets(spark, {"Matera": MESSY_SHEET, "Fenix": [
        ["Número de inmueble", "Precio de lista", "Estado de inmueble"],
        ["201", "300,25", "Disponible"],
        ["202", "", None],
    ]})
    sperant = spark.createDataFrame(
        [("Matera ", "A101", 1100.0, "disponible", dt.datetime(2024, 1, 1), 0),
         ("matera", "A101", 1200.0, "vendido", dt.datetime(2024, 2, 1), 1),
         ("Matera", "B102", 900.0, None, None, 2),
         ("Fenix", "201", None, "separado", None, 3),
         ("Solitario", "999", 1.0, "disponible", None, 4)],
        "nombre_proyecto string, nombre string, precio_lista double, "
        "estado_comercial string, fecha_actualizacion timestamp, _ord long")
    return nexo, sperant


def test_update_prices_end_to_end(spark):
    nexo, sperant = _fixture(spark)
    out = update_prices(nexo, sperant)

    updated = {(r["Proyecto"], r[COL_NUMERO]): r for r in out["updated"].collect()}
    # tower prefix applied (101 -> A101 via Tipología 'A-1'; 102 -> B102)
    assert ("Matera", "A101") in updated and ("Matera", "B102") in updated
    # dedup kept the LATER Sperant row for A101 (fecha 2024-02-01)
    a101 = updated[("Matera", "A101")]
    assert a101[COL_PRECIO] == 1200.0 and a101[COL_ESTADO] == "vendido"
    # B102: new price applied; new estado NULL -> existing kept (coalesce)
    b102 = updated[("Matera", "B102")]
    assert b102[COL_PRECIO] == 900.0
    assert b102[COL_ESTADO] == "No Disponible (Vendido)"
    # Fenix 201: new price NULL -> old kept; estado updated
    f201 = updated[("Fenix", "201")]
    assert f201[COL_PRECIO] == 300.25 and f201[COL_ESTADO] == "separado"
    # unmatched rows untouched
    assert updated[("Matera", "A103")][COL_PRECIO] == 2.0
    assert updated[("Fenix", "202")][COL_PRECIO] is None

    resumen = {r["Proyecto"]: r for r in out["resumen"].collect()}
    m, f = resumen["Matera"], resumen["Fenix"]
    assert (m["Registros"], m["Con_Match"], m["Sin_Match"]) == (3, 2, 1)
    assert (m["Cambios"], m["Cambios_Precio"], m["Cambios_Estado"]) == (2, 2, 1)
    assert m["Sin_Cambio"] == 0
    assert m["pct_Con_Match"] == pytest.approx(0.6667)
    assert (f["Registros"], f["Con_Match"], f["Sin_Match"]) == (2, 1, 1)
    assert (f["Cambios"], f["Cambios_Precio"], f["Cambios_Estado"]) == (1, 0, 1)

    detalle = {(r["Proyecto"], r[COL_NUMERO]) for r in out["detalle"].collect()}
    assert detalle == {("Matera", "A101"), ("Matera", "B102"), ("Fenix", "201")}

    # Reference quirk (APN:467-470): the project set-difference strips but
    # does NOT lowercase, so the case-variant 'matera' row counts as a
    # Sperant-only project even though its rows joined via normalized keys.
    assert [r[0] for r in out["solo_sperant"].collect()] == ["Solitario", "matera"]
    assert out["solo_nexo"].count() == 0


def test_records_keep_ingest_columns(spark):
    """records.json carries the unit number and typology under the
    accented names ingest produces, so a dashboard can look a unit up.
    Units are canonical even straight from ingest: "101.0" reads "101"
    and a tower project's units carry their tower letter, as in the
    updated workbooks."""
    nexo, _ = _fixture(spark)
    got = records(nexo)
    assert got.columns == ["Proyecto", COL_NUMERO, COL_PRECIO, COL_ESTADO,
                           "Tipología"]
    assert {r[COL_NUMERO] for r in got.collect()} == {
        "A101", "B102", "A103", "201", "202"}


def test_update_prices_string_dates_drive_dedup(spark):
    """The usual Sperant export carries fecha_actualizacion as dd/MM/yyyy
    STRINGS. The pipeline must coerce them (F8: junk → NULL, never
    raise) and the W1 keep-latest dedup must order by the PARSED dates —
    here the later date appears first positionally, so positional
    keep-last would pick the wrong row; only real date parsing keeps
    1200/vendido. The junk-dated row exercises coerce-to-NULL (undated
    beats dated per the reference's NaT-last quirk — B102 still matches)."""
    nexo, _ = _fixture(spark)
    sperant = spark.createDataFrame(
        [("matera", "A101", 1200.0, "vendido", "01/02/2024", 0),
         ("Matera ", "A101", 1100.0, "disponible", "01/01/2024", 1),
         ("Matera", "B102", 900.0, None, "not a date", 2),
         ("Fenix", "201", None, "separado", "", 3)],
        "nombre_proyecto string, nombre string, precio_lista double, "
        "estado_comercial string, fecha_actualizacion string, _ord long")
    out = update_prices(nexo, sperant)
    updated = {(r["Proyecto"], r[COL_NUMERO]): r for r in out["updated"].collect()}
    a101 = updated[("Matera", "A101")]
    assert a101[COL_PRECIO] == 1200.0 and a101[COL_ESTADO] == "vendido"
    b102 = updated[("Matera", "B102")]
    assert b102[COL_PRECIO] == 900.0  # junk date coerced to NULL, row kept
    f201 = updated[("Fenix", "201")]
    assert f201[COL_PRECIO] == 300.25 and f201[COL_ESTADO] == "separado"


def test_match_with_null_price_and_state_counts_as_match(spark):
    """A Sperant row whose keys match but whose price AND state are both
    NULL still counts as Con_Match (APN:422-424): the flag is membership
    of the key pair in the deduped Sperant set, not a non-null value."""
    nexo, _ = _fixture(spark)
    sperant = spark.createDataFrame(
        [("Fenix", "201", None, None, None, 0)],
        "nombre_proyecto string, nombre string, precio_lista double, "
        "estado_comercial string, fecha_actualizacion timestamp, _ord long")
    out = update_prices(nexo, sperant)
    updated = {(r["Proyecto"], r[COL_NUMERO]): r for r in out["updated"].collect()}
    f201 = updated[("Fenix", "201")]
    assert f201["tiene_match"] and not f201["Sin_Match"]
    assert f201[COL_PRECIO] == 300.25 and f201[COL_ESTADO] == "Disponible"
    assert not updated[("Fenix", "202")]["tiene_match"]
    assert "_m" not in out["updated"].columns
    fenix = {r["Proyecto"]: r for r in out["resumen"].collect()}["Fenix"]
    assert (fenix["Con_Match"], fenix["Sin_Match"], fenix["Cambios"]) == (1, 1, 0)


def test_pipeline_idempotent(spark):
    """Running the update twice changes nothing the second time (SURVEY §5
    property): after the first pass the Nexo side already carries the
    Sperant values, so every match is Sin_Cambio (modulo the unmatched)."""
    nexo, sperant = _fixture(spark)
    first = update_prices(nexo, sperant)["updated"]
    # feed the updated table back as the new Nexo side
    second = update_prices(first.select(nexo.columns), sperant)
    resumen = {r["Proyecto"]: r for r in second["resumen"].collect()}
    assert resumen["Matera"]["Cambios"] == 0
    assert resumen["Fenix"]["Cambios"] == 0


def test_full_reference_journey(spark, tmp_path):
    """The complete reference run as one flow: tolerant multi-file
    ingest (one good, one corrupt, one missing source) → price update →
    the 3-sheet audit workbook artifact — what a reference user's cron
    job does end-to-end."""
    import os

    import pandas as pd

    from precios_nexo_sperant_etl_spark.sources.ingest import \
        ingest_project_files
    from precios_nexo_sperant_etl_spark.sources.sinks import \
        write_audit_workbook

    good_a = tmp_path / "matera.xls"
    good_a.write_text("placeholder")
    good_b = tmp_path / "fenix.xls"
    good_b.write_text("placeholder")
    corrupt = tmp_path / "roto.xls"
    corrupt.write_text("placeholder")

    fenix_rows = [
        ["Número de inmueble", "Precio de lista", "Estado de inmueble"],
        ["201", "300,25", "Disponible"],
        ["202", "", None],
    ]

    def reader(path):
        p = str(path)
        if "roto" in p:
            raise ValueError("unreadable workbook")
        return MESSY_SHEET if "matera" in p else fenix_rows

    skips = []
    nexo = ingest_project_files(
        spark,
        {"Matera": str(good_a), "Fenix": str(good_b), "Roto": str(corrupt),
         "Fantasma": str(tmp_path / "nope.xls")},
        reader=reader, on_skip=lambda p, r: skips.append(p))
    assert {s for s in skips} == {"Roto", "Fantasma"}

    _, sperant = _fixture(spark)
    out = update_prices(nexo, sperant)
    path = str(tmp_path / "aud" / "Resumen_cambios_por_proyecto.xlsx")
    written = write_audit_workbook(out["resumen"], out["solo_nexo"],
                                   out["solo_sperant"], path)
    assert written == [path]
    sheets = {name: _sheet_df(path, name)
              for name in ("Resumen", "Solo_en_sperant")}
    assert sorted(sheets["Resumen"]["Proyecto"]) == ["Fenix", "Matera"]
    assert sum(sheets["Resumen"]["Registros"]) == 5
    assert list(sheets["Solo_en_sperant"]["Proyecto_solo_df_sperant"]) \
        == ["Solitario", "matera"]


def _sheet_df(path, name):
    """Columns of one sheet via the stdlib reader (no Excel engine)."""
    from precios_nexo_sperant_etl_spark.sources.excel import read_xlsx_rows
    rows = read_xlsx_rows(path, sheet_name=name)
    header, data = rows[0], rows[1:]
    return {c: [r[i] for r in data] for i, c in enumerate(header)}


def _nexo_frame(spark, projects):
    return spark.createDataFrame(
        [(p, str(100 + i), 1.0, "Disponible") for i, p in enumerate(projects)],
        f"Proyecto string, `{COL_NUMERO}` string, `{COL_PRECIO}` double, "
        f"`{COL_ESTADO}` string")


def _sperant_frame(spark, projects):
    return spark.createDataFrame(
        [(p, str(100 + i), 2.0, "vendido", None, i) for i, p in enumerate(projects)],
        "nombre_proyecto string, nombre string, precio_lista double, "
        "estado_comercial string, fecha_actualizacion timestamp, _ord long")


@pytest.mark.parametrize("nexo_projects, sperant_projects", [
    # case variants, padding, a blank name and a NULL on the Sperant side only
    (["Matera", " Fenix ", "Alameda", "Bosque"],
     ["matera", "Fenix", "  ", None, "Solitario", "Bosque  ", "Álamo"]),
    # a NULL key on both sides belongs to both differences
    ([None, "Matera", "", "Zeta"], [None, "Matera ", "MATERA", "Zeta"]),
    # nothing in common
    (["Uno"], ["Dos", None]),
])
def test_set_differences_match_key_set_difference(spark, nexo_projects,
                                                  sperant_projects):
    """Both set differences come from one aggregation; each must be what
    the per-direction anti-join ``key_set_difference`` gives, order
    (NULL first, then binary string order) included."""
    from precios_nexo_sperant_etl_spark.operators.join import key_set_difference

    nexo = _nexo_frame(spark, nexo_projects)
    sperant = _sperant_frame(spark, sperant_projects)
    out = update_prices(nexo, sperant)
    n = nexo.select(F.trim(F.col("Proyecto")).alias("p"))
    s = sperant.select(F.trim(F.col("nombre_proyecto")).alias("p"))
    for got, a, b in ((out["solo_nexo"], n, s), (out["solo_sperant"], s, n)):
        want = [r[0] for r in key_set_difference(a, b, "p", "p").collect()]
        assert [r[0] for r in got.collect()] == want


def test_checkpoints_are_freed_once_dropped(spark):
    """``ingest_project_files`` and ``update_prices`` each hold a
    ``localCheckpoint``: stored while the caller keeps the frames, and
    released by Spark's ContextCleaner once the caller drops them."""
    import gc
    import time

    sc = spark.sparkContext

    def stored():
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    before = stored()
    nexo, sperant = _fixture(spark)
    out = update_prices(nexo, sperant)
    assert out["resumen"].count() == 2
    assert len(stored() - before) >= 2
    del nexo, sperant, out

    deadline = time.monotonic() + 10
    while True:
        gc.collect()
        spark._jvm.System.gc()
        left = stored() - before
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.25)
    assert not left, f"RDDs still stored after the frames were dropped: {left}"


def test_reference_pipeline_pins_nothing():
    """A ``persist()``/``cache()`` would outlive every frame built on it;
    the pipeline's one materialization is a ``localCheckpoint``."""
    import ast
    import inspect

    from precios_nexo_sperant_etl_spark.plans import reference_pipeline

    tree = ast.parse(inspect.getsource(reference_pipeline))
    calls = {node.func.attr for node in ast.walk(tree)
             if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)}
    assert not calls & {"persist", "cache"}
    assert "localCheckpoint" in calls


def test_perfbench_program_smoke(spark, tmp_path, monkeypatch):
    """The benchmarked program (``perfbench/price.py``) on three small
    projects: every output checks out against the independent answers,
    and the whole run stays within 20 Spark jobs (one materialized
    update; 47 jobs when every artifact re-ran the join)."""
    import os

    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    import gen
    import price

    projects = ["Matera", "Capadocia", "Fenix"]
    inp = gen.generate(str(tmp_path / "in"), 7, projects, (20, 30), "xls",
                       ("Napoles",))
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    sc.setJobGroup("reference-pipeline-smoke", "perfbench program smoke test")
    try:
        price.run_program(spark, inp, out, False, price.Program())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("reference-pipeline-smoke")
    assert price.check(out, gen.expected(inp), projects) == []
    assert len(jobs) <= 20
