"""``kpi_pipeline.kpi_document`` against an answer assembled from the
``operators.kpi`` aggregations plus pandas, key order included."""

import json

from precios_nexo_sperant_etl_spark.operators.kpi import (kpi_by_group, kpi_cards,
                                                          value_counts)
from precios_nexo_sperant_etl_spark.plans.kpi_pipeline import kpi_document

PRICE, STATE = "Precio de lista", "Estado de inmueble"

ROWS = [
    # Alfa: three states once each (a tie the value breaks), one NULL state.
    ("Alfa", 100.0, "vendido"), ("Alfa", 200.0, "Vendido"), ("Alfa", 300.5, None),
    ("Alfa", 250.25, "disponible"),
    # Beta: every price NULL, so its precio_* keys stay absent.
    ("Beta", None, "separado"), ("Beta", None, "separado"), ("Beta", None, "vendido"),
    # Gamma: a clear count order.
    ("Gamma", 90.0, "disponible"), ("Gamma", 95.0, "disponible"),
    ("Gamma", 99.99, "disponible"), ("Gamma", 120.0, "vendido"),
    # A NULL project: one level of its own, not the grand total.
    (None, 50.0, "disponible"), (None, None, None),
]


def _rounded(rec, avg, med):
    if avg is not None:
        rec["precio_promedio"] = float(round(avg, 2))
        rec["precio_median"] = float(round(med, 2))
    return rec


def _expected(df):
    """The document from the per-level ``operators.kpi`` plans and pandas."""
    cards = kpi_cards(df, PRICE).collect()[0]
    doc = {"generated_at": "t", "cards": _rounded(
        {"unidades_totales": cards["unidades_totales"]},
        cards["precio_promedio"], cards["precio_median"]), "by_proyecto": {}}
    pdf = df.toPandas()
    pdf[STATE] = pdf[STATE].fillna("__NA__")
    for r in sorted(kpi_by_group(df, "Proyecto", PRICE).collect(),
                    key=lambda r: str(r["Proyecto"])):
        states = pdf[pdf["Proyecto"].isna() if r["Proyecto"] is None
                     else pdf["Proyecto"] == r["Proyecto"]][STATE].value_counts()
        rec = _rounded({"unidades": r["unidades"]}, r["precio_promedio"],
                       r["precio_median"])
        rec["por_estado"] = dict(sorted(((k, int(v)) for k, v in states.items()),
                                        key=lambda kv: (-kv[1], kv[0])))
        doc["by_proyecto"][r["Proyecto"]] = rec
    doc["by_estado"] = {r["value"]: r["count"]
                        for r in value_counts(df, STATE).collect()}
    return doc


def test_kpi_document_matches_the_kpi_operators(spark):
    df = spark.createDataFrame(ROWS, f"Proyecto string, `{PRICE}` double, `{STATE}` string")
    got = kpi_document(df, PRICE, generated_at="t")
    want = _expected(df)
    assert json.dumps(got, ensure_ascii=False) == json.dumps(want, ensure_ascii=False)

    assert list(got["by_proyecto"]) == ["Alfa", "Beta", "Gamma", None]
    assert list(got["by_proyecto"]["Alfa"]["por_estado"]) == [
        "Vendido", "__NA__", "disponible", "vendido"]
    assert "precio_promedio" not in got["by_proyecto"]["Beta"]
    assert "precio_median" not in got["by_proyecto"]["Beta"]
    assert got["by_proyecto"][None] == {
        "unidades": 2, "precio_promedio": 50.0, "precio_median": 50.0,
        "por_estado": {"__NA__": 1, "disponible": 1}}
    assert got["cards"]["unidades_totales"] == len(ROWS)
    assert list(got["by_estado"]) == ["disponible", "vendido", "__NA__",
                                      "separado", "Vendido"]


def test_kpi_document_without_prices(spark):
    df = spark.createDataFrame([("Beta", None, "separado")],
                               f"Proyecto string, `{PRICE}` double, `{STATE}` string")
    got = kpi_document(df, PRICE, generated_at="t")
    assert got == _expected(df)
    assert got["cards"] == {"unidades_totales": 1}
