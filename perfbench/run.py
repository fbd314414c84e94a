#!/usr/bin/env python3
"""Benchmark of the price-update program, its workbook fleet and its dashboard.

    python3 perfbench/run.py --workload price_update_batch --seed 1 --seconds 30 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Inputs, outputs and Spark's scratch files live in
``.bench_work/`` under the root and are removed at exit. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T0 = time.perf_counter()        # set-up is timed from process start
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# The program. In a directory without it, the import fails here, before
# anything is generated or started.
from precios_nexo_sperant_etl_spark.operators import serve  # noqa: E402
from precios_nexo_sperant_etl_spark.plans import kpi_pipeline  # noqa: E402
from precios_nexo_sperant_etl_spark.session import get_spark  # noqa: E402
from precios_nexo_sperant_etl_spark.sources import excel, ingest, sinks  # noqa: E402

import dashboard as db  # noqa: E402
import gen  # noqa: E402
import price  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("price_update_batch", "price_update_fleet", "dashboard_session")
END_TO_END = {"setup_s": "s", "run_p50_s": "s", "units_per_s": "1/s",
              "op_p50_ms": "ms", "op_p90_ms": "ms", "ops_per_s": "1/s"}
PER_LAYER = {
    "excel.read_s": "s", "excel.read_mb_per_s": "MB/s",
    "excel.write_s": "s", "excel.write_mb_per_s": "MB/s",
    "ingest.self_s": "s", "ingest.rows": "count",
    "reference_pipeline.update_prices_s": "s", "kpi_pipeline.kpi_document_s": "s",
    "sinks.write_excel_per_group_s": "s", "sinks.write_audit_workbook_s": "s",
    "sinks.write_json_records_s": "s", "sinks.write_csv_quoted_ms": "ms",
    "sinks.bytes_written": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.action_s": "s",
    "serve.sort_page_ms": "ms", "kpi.value_counts_ms": "ms",
    "kpi.kpi_by_group_ms": "ms", "pivot.pivot_counts_ms": "ms",
    "pivot.pct_within_group_ms": "ms",
    "session.jvm_rss_mb": "MB",
}

# Session width: explicit and below the core count, so the driver, the
# JVM's own threads and the Python workers are not starved. Left unset,
# ``session.get_spark`` would start local[32].
WIDTH = max(1, min(2, (os.cpu_count() or 2) - 1))
# The program's default heap ceiling is 8g; these inputs need far less.
DRIVER_MEMORY = "2g"

# The dashboard runs whole rounds until --seconds have passed and at
# least this many queries were made, so that op_p90_ms has ten samples
# beyond it.
MIN_OPS = 100
# The first round takes ~2.5x a later one while the JVM compiles, so it
# runs untimed. More warm-up rounds would steady the figures further but
# push a run past the time budget (README.md).
WARMUP_ROUNDS = 1

# Input sizes: projects, units per project and workbook format.
# The last project of each list has no Sperant rows.
# The batch's Sperant export lists all eight reference projects, as the
# CRM export does, while only three Nexo workbooks are updated.
BATCH = {"projects": ["Matera", "Capadocia", "Fenix"], "units": (150, 190), "fmt": "xls",
         "crm_projects": ("Napoles", "Alameda", "Bosque", "Cielo", "Duna")}
FLEET = {"projects": ["Capadocia", "Napoles", "Bosque", "Cielo", "Estela", "Girasol",
                      "Huerta", "Duna"], "units": (500, 700), "fmt": "xlsx"}
DASHBOARD = {"projects": ["Matera", "Capadocia", "Napoles", "Fenix", "Alameda",
                          "Bosque", "Cielo", "Duna"], "units": (150, 190), "fmt": "xls"}


def percentile(values: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (``numpy`` default)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the work directory,
    and let Spark's Python workers import this directory and the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:      # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


# --- workloads ----------------------------------------------------------------

class Traced(price.Program):
    """Wraps the program's layers in spans for the traced run."""

    def __init__(self, spark):
        self.tracer = spans.Tracer(spark)
        self.counter = spans.SparkCounter(spark)
        # Rebinding is seen by the sinks, which import the writer at call time.
        excel.write_xlsx = self.tracer.file_call(excel.write_xlsx, "excel.write")

    def span(self, name):
        return self.tracer.span(name)

    def reader(self, fn):
        return self.tracer.file_call(fn, "excel.read")


def price_workload(spark, args, work: str, spec: dict, distributed: bool):
    projects = spec["projects"]
    inp = gen.generate(os.path.join(work, "in"), args.seed, projects, spec["units"],
                       spec["fmt"], spec.get("crm_projects", ()))
    exp = gen.expected(inp)
    prog = Traced(spark) if args.trace else price.Program()
    setup_s = time.perf_counter() - T0

    walls, layers, problems = [], [], []
    while not walls or sum(walls) < args.seconds:
        out = os.path.join(work, f"out-{len(walls)}")
        mark = len(prog.tracer.spans) if args.trace else 0
        group = prog.counter.start() if args.trace else None
        t = time.perf_counter()
        price.run_program(spark, inp, out, distributed, prog)
        walls.append(time.perf_counter() - t)
        if args.trace:
            tr = prog.tracer
            sp = prog.counter.stop(group)
            read_s, write_s = tr.total("excel.read", mark), tr.total("excel.write", mark)
            layers.append({
                "excel.read_s": read_s,
                "excel.read_mb_per_s": tr.bytes("excel.read", mark) / 1e6 / read_s,
                "excel.write_s": write_s,
                "excel.write_mb_per_s": tr.bytes("excel.write", mark) / 1e6 / write_s,
                "ingest.self_s": tr.self_time("ingest", mark),
                "ingest.rows": len(inp.units),
                "reference_pipeline.update_prices_s": tr.total("reference_pipeline.update_prices", mark),
                "kpi_pipeline.kpi_document_s": tr.total("kpi_pipeline.kpi_document", mark),
                "sinks.write_excel_per_group_s": tr.self_time("sinks.write_excel_per_group", mark),
                "sinks.write_audit_workbook_s": tr.self_time("sinks.write_audit_workbook", mark),
                "sinks.write_json_records_s": tr.total("sinks.write_json_records", mark),
                "sinks.bytes_written": price.output_bytes(out),
                "spark.jobs": sp["jobs"], "spark.stages": sp["stages"],
                "spark.tasks": sp["tasks"], "spark.action_s": sp["action_s"],
            })
        problems += price.check(out, exp, projects)
        shutil.rmtree(out)

    n_units = len(inp.units)
    e2e = {"setup_s": setup_s, "run_p50_s": statistics.median(walls),
           "units_per_s": n_units * len(walls) / sum(walls),
           "op_p50_ms": 1e3 * statistics.median(walls),
           "op_p90_ms": 1e3 * percentile(walls, 0.9),
           "ops_per_s": len(walls) / sum(walls)}
    per_layer = {k: statistics.median(d[k] for d in layers) for k in layers[0]} if layers else {}
    if args.trace:
        per_layer["session.jvm_rss_mb"] = spans.jvm_rss_mb(spark)
    return problems, len(walls), 0, e2e, per_layer


def dashboard_workload(spark, args, work: str):
    # Publish records.json as the reference's KPI extractor does: the
    # Nexo sources through the program's ingest, records and JSON sink.
    # The distributed fan-in is used because it sets up in ~10 s, against
    # ~16 s for the driver loop.
    projects = DASHBOARD["projects"]
    inp = gen.generate(os.path.join(work, "in"), args.seed, projects,
                       DASHBOARD["units"], DASHBOARD["fmt"])
    published = os.path.join(work, "records.json")
    sinks.write_json_records(
        kpi_pipeline.records(ingest.ingest_project_files_distributed(spark, inp.nexo_files)),
        published)
    rows = price.read_records(published)
    base = spark.read.json(published).cache()
    base.count()
    view = db.View(base, rows)
    rnd = random.Random(args.seed)
    problems: list[str] = []
    tr = Traced(spark) if args.trace else None

    def round_(timed: bool, samples: dict, spark_counts: list):
        """One pass of the script; returns (wall, ops, failed)."""
        wall = ops = failed = 0
        for kind, change in db.script(rnd, projects, inp.lookup_units):
            if kind == "change":
                for k, v in change.items():
                    setattr(view, k, v)
                names, page = db.QUERIES, 0
                if timed:
                    want_rows = view.expected_rows()
                    want_frame = db.frame(want_rows)
            elif kind == "flip":
                names, page = ("serve.sort_page",), 1
            else:
                names, page = (kind,), 0
            for name in names:
                group = tr.counter.start() if tr else None
                t = time.perf_counter()
                if kind == "export":
                    path = os.path.join(work, "export")
                    sinks.write_csv_quoted(view.frame(), path)
                elif kind == "unit_lookup":
                    got = db.run_query("serve.sort_page",
                                       serve.global_search(base, change["unit"]))
                else:
                    got = db.run_query(name, view.frame(), page)
                dt = time.perf_counter() - t
                if tr:
                    spark_counts.append(tr.counter.stop(group))
                wall += dt
                ops += 1
                key = {"export": "sinks.write_csv_quoted"}.get(
                    kind, "serve.sort_page" if kind == "unit_lookup" else name)
                samples.setdefault(key, []).append(dt)
                if kind == "unit_lookup":
                    failed += not db.lookup_found(got, change["unit"])
                elif kind == "export":
                    if timed and not db.check_export(path, want_rows):
                        problems.append("csv export differs from the view")
                    shutil.rmtree(path)
                elif timed and not db.matches(name, got, db.expected(name, want_rows, want_frame, page)):
                    problems.append(f"{name} differs from pandas "
                                    f"(project={view.project}, state={view.state}, "
                                    f"search={view.search}, page={page})")
        return wall, ops, failed

    for _ in range(WARMUP_ROUNDS):
        round_(False, {}, [])
    setup_s = time.perf_counter() - T0

    rounds, samples, counts = [], {}, []
    attempted = failed = 0
    while not rounds or sum(rounds) < args.seconds or attempted < MIN_OPS:
        wall, ops, bad = round_(True, samples, counts)
        rounds.append(wall)
        attempted += ops
        failed += bad
    op_times = [t for v in samples.values() for t in v]
    e2e = {"setup_s": setup_s, "run_p50_s": statistics.median(rounds),
           "units_per_s": len(inp.units) * len(rounds) / sum(rounds),
           "op_p50_ms": 1e3 * statistics.median(op_times),
           "op_p90_ms": 1e3 * percentile(op_times, 0.9),
           "ops_per_s": attempted / sum(rounds)}
    per_layer = {}
    if tr:
        for name in db.QUERIES + ("sinks.write_csv_quoted",):
            per_layer[name + "_ms"] = 1e3 * statistics.median(samples[name])
        for k in ("jobs", "stages", "tasks", "action_s"):
            per_layer[f"spark.{k}"] = statistics.fmean(c[k] for c in counts)
        per_layer["session.jvm_rss_mb"] = spans.jvm_rss_mb(spark)
    return problems, attempted, failed, e2e, per_layer


# --- entry point ---------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _isolate(work)
    spark = None
    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=WIDTH)
        spark.sparkContext.setLogLevel("ERROR")
        if args.workload == "dashboard_session":
            res = dashboard_workload(spark, args, work)
        else:
            fleet = args.workload == "price_update_fleet"
            res = price_workload(spark, args, work, FLEET if fleet else BATCH, fleet)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    problems, attempted, failed, e2e, per_layer = res
    for p in problems[:20]:
        print("CHECK FAILED:", p, file=sys.stderr)
    if args.trace:      # the traced run's own timings give the tracing overhead
        print("end-to-end with tracing:", json.dumps(e2e), file=sys.stderr)
    wanted = PER_LAYER if args.trace else END_TO_END
    values = per_layer if args.trace else e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": unit}
               for k, unit in wanted.items()}
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
