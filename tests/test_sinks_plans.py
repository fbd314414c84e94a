"""Sink operators (S6-S11) and physical-plan shape assertions — the
"would this survive 100×" checks: broadcast joins stay broadcast, filters
reach the parquet scan, scans prune columns."""

import csv
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from precios_nexo_sperant_etl_spark.plans.price_pipeline import core_update_audit
from precios_nexo_sperant_etl_spark.registry import queries
from precios_nexo_sperant_etl_spark.sources.sinks import (safe_filename,
                                                          write_csv_quoted,
                                                          write_json_document,
                                                          write_json_records,
                                                          write_partitioned)

SF_DIR = "/root/testdata/sf0.001"


def test_safe_filename():
    assert safe_filename("Tizón & Bueno/3") == "Tizn  Bueno3"
    assert safe_filename("///") == "Proyecto"


def test_write_partitioned_one_dir_per_group(spark, tmp_path):
    df = spark.createDataFrame(
        [("A", 1, "x"), ("A", 2, "y"), ("B", 3, "z")], "Proyecto string, v int, w string")
    out = str(tmp_path / "parts")
    write_partitioned(df, out, front_cols=["w"])
    dirs = {os.path.basename(p) for p in glob.glob(out + "/Proyecto=*")}
    assert dirs == {"Proyecto=A", "Proyecto=B"}
    back = spark.read.parquet(out)
    assert back.count() == 3 and back.columns[0] == "w"


def test_write_json_records_and_document(spark, tmp_path):
    df = spark.createDataFrame([(1, None), (2, 3.5)], "id int, v double")
    out = str(tmp_path / "recs")
    write_json_records(df, out)
    rows = [json.loads(l) for f in glob.glob(out + "/part-*.json")
            for l in open(f) if l.strip()]
    assert {r["id"] for r in rows} == {1, 2}
    assert all("v" not in r or r["v"] is not None for r in rows)  # nulls omitted

    doc_path = str(tmp_path / "kpis.json")
    write_json_document({"cards": {"unidades_totales": 5}, "ñ": "sí"}, doc_path)
    doc = json.load(open(doc_path, encoding="utf-8"))
    assert doc["cards"]["unidades_totales"] == 5 and doc["ñ"] == "sí"


def test_json_records_roundtrip_via_read(spark, tmp_path):
    """S12 (index.html:133-143): the serving side re-reads the published
    records artifact — spark.read.json round-trips what S9 wrote."""
    df = spark.createDataFrame([(1, "a", 2.5), (2, "b", None)],
                               "id long, s string, v double")
    out = str(tmp_path / "recs")
    write_json_records(df, out)
    back = spark.read.json(out)
    got = {(r["id"], r["s"], r["v"]) for r in back.collect()}
    assert got == {(1, "a", 2.5), (2, "b", None)}


def test_write_csv_quote_all(spark, tmp_path):
    df = spark.createDataFrame([('say "hi"', 1)], "msg string, n int")
    out = str(tmp_path / "csv")
    write_csv_quoted(df, out)
    text = "".join(open(f).read() for f in glob.glob(out + "/part-*.csv"))
    assert '"say ""hi""","1"' in text  # every field quoted, quotes doubled


def test_flagship_plan_is_broadcast_not_sortmerge(spark):
    """The bounded nation dimension must broadcast. The snapshot edge is
    unhinted (it grows with customer cardinality), so Catalyst may pick
    BHJ (test scale) or SMJ (past threshold) there — both acceptable; at
    test scale the statistics make both joins broadcast."""
    plan = core_update_audit(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("SortMergeJoin") <= 1


def test_q6_pushes_filters_and_prunes_columns(spark):
    q6 = queries()["tpch_q6_forecast_revenue"](spark, SF_DIR)
    scan = [l for l in q6._jdf.queryExecution().toString().splitlines()
            if "FileScan" in l]
    assert scan, "no FileScan found"
    line = scan[0]
    # shipdate/discount/quantity predicates reach the scan
    assert "l_shipdate" in line and "l_discount" in line
    # only the 4 needed columns are read, not all 11
    assert "l_orderkey" not in line.split("ReadSchema")[0].split("[")[1]


def test_audit_workbook_roundtrip(spark, tmp_path):
    """S7 (APN:482-487): ONE audit workbook with sheets Resumen /
    Solo_en_df_total / Solo_en_sperant, written and read back entirely
    with the stdlib xlsx codec — no Excel engine in this container.
    Round-trips the sf-scale fixture pipeline's outputs."""
    from precios_nexo_sperant_etl_spark.plans.reference_pipeline import update_prices
    from precios_nexo_sperant_etl_spark.sources.excel import read_xlsx_rows
    from precios_nexo_sperant_etl_spark.sources.sinks import write_audit_workbook
    from tests.test_reference_pipeline import _fixture

    nexo, sperant = _fixture(spark)
    out = update_prices(nexo, sperant)
    path = str(tmp_path / "Resumen_cambios_por_proyecto.xlsx")
    written = write_audit_workbook(out["resumen"], out["solo_nexo"],
                                   out["solo_sperant"], path)
    assert written == [path]
    sheets = {}
    for name in ("Resumen", "Solo_en_df_total", "Solo_en_sperant"):
        rows = read_xlsx_rows(path, sheet_name=name)
        header, data = rows[0], rows[1:]
        sheets[name] = {c: [r[i] for r in data]
                        for i, c in enumerate(header)}
    assert sorted(sheets["Resumen"]["Proyecto"]) == ["Fenix", "Matera"]
    assert list(sheets["Solo_en_sperant"]["Proyecto_solo_df_sperant"]) \
        == ["Solitario", "matera"]
    assert all(len(v) == 0 for v in sheets["Solo_en_df_total"].values())


def test_workbook_sheet_names_are_legal_for_excel(spark, tmp_path, monkeypatch):
    """Excel refuses sheet names over 31 characters or holding any of
    ``[]:*?/\\``: the writer drops those characters, cuts the rest to 31
    and falls back to ``Sheet{i}``. The per-project sink passes the raw
    project name, so it goes through the same rule."""
    import re
    import zipfile

    from precios_nexo_sperant_etl_spark.sources.excel import read_xlsx_rows, write_xlsx
    from precios_nexo_sperant_etl_spark.sources.sinks import write_excel_per_group

    monkeypatch.syspath_prepend(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    from sheets import read_xlsx

    project = "Torre [Norte]: fase 2/3 * ¿final? \\ edificio principal"
    df = spark.createDataFrame([(project, "101", 9.5)], "Proyecto string, u string, p double")
    path, = write_excel_per_group(df, str(tmp_path / "per_group"))
    legal = "Torre Norte fase 23  ¿final  ed"
    assert read_xlsx_rows(path, sheet_name=legal) == [["Proyecto", "u", "p"],
                                                       [project, "101", 9.5]]
    assert read_xlsx(path) == [["Proyecto", "u", "p"], [project, "101", 9.5]]

    path = str(tmp_path / "names.xlsx")
    write_xlsx(path, {"[]:*?/\\": [["a"]], "Ok": [["b"]]})
    with zipfile.ZipFile(path) as zf:
        names = re.findall(r'<sheet name="([^"]*)"', zf.read("xl/workbook.xml").decode())
    assert names == ["Sheet1", "Ok"]
    assert read_xlsx_rows(path, sheet_name="Sheet1") == [["a"]]
    assert read_xlsx(path, 1) == [["b"]]


def test_sheet_name_collision_is_refused(tmp_path):
    """Names are cleaned one by one, so two inputs can clean to the same
    sheet name, which Excel refuses. Excel compares sheet names without
    case, so ``"ab"`` and ``"AB"`` collide too."""
    from precios_nexo_sperant_etl_spark.sources.excel import write_xlsx

    path = tmp_path / "dup.xlsx"
    for sheets in ({"a/b": [["x"]], "ab": [["y"]]},
                   {"ab": [["x"]], "A*B": [["y"]]}):
        with pytest.raises(ValueError, match="'a/b' and 'ab'|'ab' and 'A\\*B'"):
            write_xlsx(str(path), sheets)
    assert not path.exists()


def test_workbook_file_name_collision_is_refused(spark, tmp_path):
    """``"Tizón"`` and ``"Tizn"`` both give ``Tizn.xlsx``: the second
    project would overwrite the first, so the sink refuses before it
    writes any workbook."""
    from precios_nexo_sperant_etl_spark.sources.sinks import write_excel_per_group

    df = spark.createDataFrame([("Tizón", 1), ("Tizn", 2), ("Alameda", 3)],
                               "Proyecto string, v int")
    out = tmp_path / "per_group"
    with pytest.raises(ValueError, match="'Tizn' and 'Tizón'|'Tizón' and 'Tizn'"):
        write_excel_per_group(df, str(out))
    assert not out.exists()


def test_q7_q10_broadcast_dimensions(spark):
    """The new join anchors keep their dimension chains broadcast: the
    only sort-merge exchange allowed is the fact-fact lineitem⋈orders
    join."""
    for name in ("tpch_q7_volume_shipping", "tpch_q10_returned_items"):
        plan = queries()[name](spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name
        assert plan.count("SortMergeJoin") <= 1, name


def test_row_id_plan_has_no_global_window(spark):
    """W4's dense ids must come from the two-pass partition-offset plan,
    never a single-task unpartitioned window over the fact table: the
    only Window allowed is the offsets cumsum over ≤ n_partitions rows."""
    df = queries()["w4_row_id"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the offsets branch has one tiny global window; the fact branch must
    # not — so at most one Window node total, and a range exchange exists
    assert plan.count("Window") <= 1
    assert "rangepartitioning" in plan.lower()


def test_skew_salted_join_plan(spark):
    """The skew-stress query must actually take the salted sort-merge
    path: SMJ forced (no broadcast), the salt column among the join
    keys, and the replicate-side explode present — so the hot key
    (90% of rows) is spread across 32 reducers instead of one."""
    plan = queries()["skew_salted_join"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "_salt" in plan
    assert "explode" in plan.lower()


def test_mad_outlier_no_window_over_fact(spark):
    """The MAD gate computes per-status medians as tiny groupBy
    aggregates broadcast back onto the fact scan — an unbounded
    per-group percentile Window would funnel a third of the table
    through one task."""
    plan = queries()["mad_outlier_filter"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q21_single_pass_no_self_join(spark):
    """Q21's EXISTS/NOT-EXISTS fold into per-order windows: lineitem must
    be scanned once (no self-join), with only the orders join plus the
    broadcast supplier lookup."""
    plan = queries()["tpch_q21_sole_late_supplier"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 3  # lineitem + orders + supplier
    assert "CartesianProduct" not in plan


def test_curation_pipeline_single_pass(spark):
    """The end-to-end curation chain computes quality/language/token
    budget as ONE projection over the dedup survivors — no joins of any
    kind (the r2 shape joined three per-doc frames back on doc_id; the
    r3 shape has exactly the dedup exchange plus the final sort)."""
    plan = queries()["curation_pipeline"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 2  # dedup hash + presentation sort


def test_q9_q16_q20_dimension_chains_broadcast(spark):
    """The round-3 TPC-H anchors keep part/supplier/nation sides
    broadcast; the only sort-merge exchange allowed is lineitem⋈orders
    (q9's fact-fact edge, which is deliberately NOT hinted so it can
    shuffle at real scale)."""
    for name in ("tpch_q9_product_profit", "tpch_q16_supplier_diversity",
                 "tpch_q20_dominant_supplier"):
        plan = queries()[name](spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name
        assert plan.count("SortMergeJoin") <= 1, name
        assert "CartesianProduct" not in plan, name


def test_q11_scalar_threshold_is_single_row_broadcast(spark):
    """Q11's scalar-aggregate threshold joins as a broadcast of the 1-row
    stats aggregate — never a shuffled cross product of the fact side."""
    plan = queries()["tpch_q11_important_stock"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_round3_query_plan_shapes(spark):
    """Scale-shape assertions for the round-3 operators: the vocab and
    corpus-size sides broadcast, and nothing in the clustering or
    packing paths degenerates into a cartesian product."""
    import __spark_entry__ as e
    qs = e.queries()
    sf = "/root/testdata/sf0.001"

    def plan(name):
        df = qs[name](spark, sf)
        df.count()  # let AQE finalize
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan("vocab_oov_rate")
    assert "BroadcastHashJoin" in p          # vocab membership broadcast
    assert "CartesianProduct" not in p

    p = plan("tfidf_top_terms")
    assert "CartesianProduct" not in p       # corpus-size 1-row frame
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p

    p = plan("neardup_clusters")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # pure projection + final sort: no joins anywhere in the plan
    p = plan("train_val_test_split")
    assert "Join" not in p


def test_aqe_skew_join_split_engages(spark):
    """AQE's automatic skew handling is the first line of defense before
    manual salting: on a deliberately skewed fact-fact sort-merge join,
    the AQE final plan must mark the join skew=true (runtime split of
    the oversized partition)."""
    from pyspark.sql import functions as F
    left = (spark.range(0, 400_000)
            .select(F.when(F.col("id") % 10 < 9, F.lit(0))  # 90% hot key
                     .otherwise(F.col("id")).alias("k"),
                    F.col("id").alias("payload")))
    # right side unique-keyed: the hot LEFT partition is what AQE must
    # split; join output stays |left|-bounded
    right = spark.range(0, 50_000).select(
        F.col("id").alias("k"), F.col("id").alias("r_payload"))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
    joined = left.join(
        right.hint("merge"), "k")  # force SMJ so skew split can engage
    # execute this exact plan instance (a write/count would build its own
    # QueryExecution and leave this one's AQE plan non-final)
    qe = joined._jdf.queryExecution()
    qe.executedPlan().execute().count()
    plan = qe.executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan


def test_round4_query_plan_shapes(spark):
    """Scale-shape assertions for the round-4 operators: the chunker and
    frame scheduler are shuffle-free narrow maps, Z-order aggregates in
    one exchange pair, SemDeDup's pair generation is a cell equi-join
    (never cartesian), and DSIR's only nested-loop is the 1-row totals
    broadcast."""
    import __spark_entry__ as e
    qs = e.queries()
    sf = "/root/testdata/sf0.001"

    def plan(name):
        df = qs[name](spark, sf)
        df.count()  # let AQE finalize
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan("doc_chunks")
    assert "Exchange" not in p               # pure narrow map
    assert "Join" not in p

    p = plan("multimodal_frame_schedule")
    assert "Exchange" not in p
    assert "Join" not in p

    p = plan("zorder_layout")
    assert "Join" not in p                   # bit math + one agg + sort

    p = plan("semdedup_survivors")
    assert "CartesianProduct" not in p       # cell equi-join only

    p = plan("dsir_weights")
    assert "CartesianProduct" not in p
    # the 1-row totals frame must ride a broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p

    p = plan("referential_integrity")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_write_partitioned_format_matrix(spark, tmp_path):
    """The partitioned sink must round-trip through every Spark-native
    columnar/row format it claims (parquet, orc, json, csv) — schema
    and values preserved where the format supports them."""
    df = spark.createDataFrame(
        [("A", 1, 2.5), ("B", 2, None)], "Proyecto string, v int, x double")
    for fmt in ("parquet", "orc", "json"):
        out = str(tmp_path / f"m_{fmt}")
        write_partitioned(df, out, fmt=fmt)
        back = spark.read.format(fmt).load(out)
        got = {(r["Proyecto"], r["v"], r["x"]) for r in back.collect()}
        assert got == {("A", 1, 2.5), ("B", 2, None)}, fmt


def test_r6_additions_plan_shapes(spark):
    """Round-6 queries keep the intended shapes: no sort-merge join
    anywhere (every join side is vocab-/label-/source-sized or an
    explicit tiny broadcast), and pmi's totals ride in as broadcast
    1-row frames instead of per-row subqueries."""
    for name in ("pmi_collocations", "embedding_health_by_label",
                 "epoch_repetition_schedule", "token_budget_waterfill"):
        plan = queries()[name](spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "SortMergeJoin" not in plan, name
    # wav roundtrip: pure narrow map + one Arrow crossing — no joins,
    # no aggregates before the final sort.
    plan = queries()["wav_decode_roundtrip"](spark, SF_DIR) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "HashAggregate" not in plan
