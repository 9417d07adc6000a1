"""Load generator: one closed-loop client driving one workload.

Run by ``run.py`` (which generates the inputs and sets the environment);
prints a detail line and then the result line on stdout.

    python3 perfbench/loadgen.py --workload W --data DIR --seed N --seconds S --trace 0|1

Protocol, the same for every workload:

1. set-up: ``get_spark``, the workload's entry objects (SpecStore, Flask
   app, query table), one untimed warm-up of each operation kind;
2. timed phase: a fixed number of units of work (dashboard cycles, query
   reps) sized so they take about ``--seconds`` (see ``UNIT_S``);
   untimed bookkeeping (restoring files, clearing operator caches,
   reading the status store) runs between operations;
3. ``live_mb`` after full GCs, then the correctness checks.

``setup_s`` runs from process start to the first timed operation, and
``op_geomean_ms`` is the geometric mean over operation kinds of each
kind's median latency.  With ``--trace 1`` spans are recorded around the
engine's public functions and stage counters are read from the status
store after every operation; the reported metrics are then per-layer, per
timed operation, as medians over units.
"""

from __future__ import annotations

import argparse
import contextlib
import csv
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path


def _process_age_s() -> float:
    """Seconds since this process was created (``/proc/self/stat``)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS_START = time.perf_counter() - _process_age_s()

import gen  # noqa: E402  (perfbench/ is on sys.path as the script's directory)
from layertrace import StageSnapshot, Tracer, catalyst_plan_ms  # noqa: E402

# Nominal warm duration of one unit of work (a dashboard cycle, a query
# rep) on a 4-core host.  A run times ``--seconds / UNIT_S`` whole units:
# a count fixed by the arguments, not by how fast the host happens to be,
# keeps every run's medians over the same op positions (later ops run on
# a warmer JIT, so a variable count would itself move the median).
UNIT_S = {"dashboard_loop": 5.0, "record_clusters": 4.0}


def _units(workload: str, seconds: float) -> int:
    return max(1, round(seconds / UNIT_S[workload]))


# per-layer metric -> unit; every one is reported on every workload
# (0 where the workload does not reach the layer)
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "specs.load_ms": "ms",
    "specs.loads": "count",
    "compiler.compile_ms": "ms",
    "compiler.compiles": "count",
    "sources.scan_plan_ms": "ms",
    "sources.write_ms": "ms",
    "sources.edit_ms": "ms",
    "plans.transform_ms": "ms",
    "plans.transform_self_ms": "ms",
    "orchestrate.process_self_ms": "ms",
    "api.preview_self_ms": "ms",
    "api.convert_self_ms": "ms",
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    "operators.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.input_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.single_task_stage_s": "s",
    "spark.core_busy_frac": "frac",
    "driver.gap_ms": "ms",
    "catalyst.plan_ms": "ms",
}


class Run:
    """Timings, check outcomes and trace counters of one benchmark run."""

    def __init__(self, trace: bool) -> None:
        self.tracer = Tracer() if trace else None
        self.stages: StageSnapshot | None = None
        self.op_ms: dict[str, list[float]] = {}
        self.timed_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # trace accumulators of the current unit (a dashboard cycle or a
        # query rep), and the closed units
        self.engine: dict[str, float] = {}
        self.layer_extra: dict[str, float] = {}
        self.unit_ops = 0
        self.unit_s = 0.0
        self.units: list[dict] = []
        self.t_first_op: float | None = None
        self.warm_ms: dict[str, float] = {}

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok

    def op(self, kind: str, fn):
        """Time one operation; returns ``(result, ok)``.  An exception
        counts as a failed operation, not as a crash of the run."""
        if self.t_first_op is None:
            # the timed phase starts: drop what the warm-up recorded
            self.t_first_op = time.perf_counter()
            if self.tracer is not None:
                self.tracer.totals.clear()
                self.stages.mark()
        self.attempted += 1
        w0, t0 = time.time(), time.perf_counter()
        try:
            result, ok = fn(), True
        except Exception as exc:  # noqa: BLE001 - recorded as a failed op
            result, ok = None, self.check(False, f"{kind}: {type(exc).__name__}: {exc}"[:300])
        dt = time.perf_counter() - t0
        w1 = time.time()
        self.op_ms.setdefault(kind, []).append(dt * 1e3)
        self.timed_s += dt
        self.unit_ops += 1
        self.unit_s += dt
        if self.stages is not None:
            for k, v in self.stages.take(w0, w1).items():
                self.engine[k] = self.engine.get(k, 0.0) + v
        return result, ok

    def end_unit(self) -> None:
        """Close one repeating unit of work; the per-layer metrics are
        medians over units, so one odd unit does not move them."""
        if self.tracer is not None:
            self.units.append({
                "ops": self.unit_ops, "timed_s": self.unit_s,
                "spans": {k: list(v) for k, v in self.tracer.totals.items()},
                "engine": dict(self.engine), "extra": dict(self.layer_extra),
            })
            self.tracer.totals.clear()
            self.engine.clear()
            self.layer_extra.clear()
        self.unit_ops, self.unit_s = 0, 0.0

    def add_layer(self, name: str, value: float) -> None:
        self.layer_extra[name] = self.layer_extra.get(name, 0.0) + value

    def warm(self, kind: str, fn):
        """Run one untimed warm-up operation, recording how long it took."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.warm_ms[kind] = (time.perf_counter() - t0) * 1e3

    def untimed_op(self, ok: bool) -> None:
        """Account a warm-up operation (checked, not timed)."""
        self.attempted += 1
        self.failed += not ok

    def fail_op(self) -> None:
        self.failed += 1


def _geomean_of_medians(samples: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median."""
    medians = [statistics.median(v) for v in samples.values()]
    return math.exp(sum(math.log(m) for m in medians) / len(medians))


def _env() -> dict:
    import bench  # the repo's bench harness: its machine-state stamp

    stamp = bench._env_stamp()
    stamp["nproc"] = len(os.sched_getaffinity(0))
    stamp["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_CPUS")
    return stamp


def _live_mb(spark) -> dict:
    """Memory held after the timed phase, in MB: driver Python RSS, Spark
    JVM RSS, and JVM heap used/committed, read after full GCs.  Dropped
    Python references free their JVM objects, then a GC lets Spark's
    context cleaner release the blocks of unreachable RDDs, and a second
    GC frees them.  ``live_mb`` is the two RSS figures: heap used after GC
    swings by ~2x between identical runs (cleaner timing), RSS by ~5%."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    return {
        "driver_rss": _rss_mb("self"),
        "jvm_rss": _rss_mb(jvm_pid),
        "jvm_heap_used": heap.getUsed() / 2**20,
        "jvm_heap_committed": heap.getCommitted() / 2**20,
    }


def _rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:")) / 1024


def _install_etl_trace(tracer: Tracer) -> None:
    # every module that imports a traced function must be loaded first
    from csv_etl_spark import api, compiler, orchestrate  # noqa: F401
    from csv_etl_spark.plans import pipeline
    from csv_etl_spark.sources import csv_source, edits, sinks
    from csv_etl_spark.specs import SpecStore

    tracer.install([
        ("compiler.compile", compiler.compile_mapping),
        ("sources.scan_plan", csv_source.read_spec_csv),
        ("sources.scan_plan", csv_source.with_line_numbers),
        ("sources.write", sinks.write_single_csv_file),
        ("sources.edit", edits.update_csv_row),
        ("plans.transform", pipeline.transform),
        ("orchestrate.process", orchestrate.process_source),
    ])
    tracer.install_methods(SpecStore, ["get_source", "get_destination", "get_mapping"], "specs.load")


# -- workloads ---------------------------------------------------------------


def dashboard_loop(spark, run: Run, data: Path, manifest: dict, units: int) -> None:
    """One dashboard user: preview with validation, process the source
    directory (the bulk path, gated by the bad row, whose error it
    collects), fix the bad row, then convert (which now writes).  The file
    is restored, untimed, after each cycle; every request is timed on its
    own."""
    from csv_etl_spark.api import create_app

    app = create_app(spark, str(data / "config"), str(data / "input"), str(data / "output"))
    if run.tracer is not None:
        for route, span in (("preview", "api.preview"), ("convert", "api.convert")):
            app.view_functions[route] = run.tracer.wrap(app.view_functions[route], span)
    client = app.test_client()
    base = f"/api/preview/{gen.SOURCE_ID}/{manifest['file']}"
    src_file = data / "input" / "revolut" / manifest["file"]
    out_file = data / "output" / "ghostfolio" / f"{Path(manifest['file']).stem}_{gen.DEST_ID}.csv"
    rows, bad_line, fixed = manifest["rows"], manifest["bad_line"], manifest["fixed_date"]

    def preview():
        return client.get(f"{base}?mapping_id={gen.MAPPING_ID}&limit=100")

    def process():
        return client.post(f"/api/process/{gen.SOURCE_ID}", json={"mapping_id": gen.MAPPING_ID})

    def edit():
        return client.post(f"{base}/update", json={"line": bad_line, "row": {"Date": fixed}})

    def convert():
        return client.post(f"{base}/convert", json={"mapping_id": gen.MAPPING_ID})

    def check_preview(r) -> bool:
        body = r.get_json() if r.status_code == 200 else {}
        v = body.get("validation") or {}
        return run.check(
            r.status_code == 200 and body["total"] == rows and len(body["rows"]) == 100
            and v.get("error_count") == 1 and v.get("success_count") == manifest["kept"] - 1
            and [int(k) for k in body["errors_by_line"]] == [bad_line],
            f"preview: {r.status_code} {str(body)[:200]}",
        )

    def check_process(r) -> bool:
        body = r.get_json() if r.status_code == 200 else {}
        errors = body.get("errors") or [{}]
        return run.check(
            r.status_code == 200 and body["success_count"] == manifest["kept"] - 1
            and body["error_count"] == 1 and errors[0].get("line") == bad_line
            and errors[0].get("file") == manifest["file"] and not out_file.exists(),
            f"process: {r.status_code} {str(body)[:200]}",
        )

    def check_edit(r) -> bool:
        with open(src_file, newline="", encoding="utf-8") as fh:
            row = next(r for i, r in enumerate(csv.DictReader(fh), start=2) if i == bad_line)
        return run.check(r.status_code == 200 and row["Date"] == fixed, f"edit: {r.status_code} {row}")

    def check_convert(r) -> bool:
        ok = r.status_code == 200 and r.get_json().get("success") is True and out_file.exists()
        if ok:
            with open(out_file, encoding="utf-8") as fh:
                ok = sum(1 for _ in fh) - 1 == manifest["kept"]
        return run.check(ok, f"convert: {r.status_code}")

    def restore() -> None:
        shutil.copyfile(data / "upload.orig.csv", src_file)
        shutil.rmtree(data / "output", ignore_errors=True)

    steps = [
        ("preview", preview, check_preview),
        ("process", process, check_process),
        ("edit", edit, check_edit),
        ("convert", convert, check_convert),
    ]
    restore()
    for kind, fn, chk in steps:  # warm-up cycle
        run.untimed_op(chk(run.warm(kind, fn)))
    restore()
    for _ in range(units):
        for kind, fn, chk in steps:
            r, ok = run.op(kind, fn)
            if not (ok and chk(r)):
                run.fail_op()
        run.end_unit()
        restore()


def _operator_caches():
    """Every operator cache instance, found by type in the operator
    modules, so a cache added later is cleared without a list to keep."""
    import importlib
    import pkgutil

    import csv_etl_spark.operators as ops
    from csv_etl_spark.operators._cache import BoundedDriverMemo, BoundedPersistCache

    found = []
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        found += [v for v in vars(mod).values() if isinstance(v, (BoundedPersistCache, BoundedDriverMemo))]
    return list({id(c): c for c in found}.values())


def record_clusters(spark, run: Run, data: Path, units: int, checks: list) -> None:
    """``__spark_entry__.queries()["record_clusters"]`` over the generated
    customer table: a blocked fuzzy join feeding the shared
    connected-components resolver, whose per-round eager jobs are what
    ROADMAP item 2 changes.  One op is the query function call (plan build
    plus the eager jobs) and a noop write; every operator cache is cleared
    before each op."""
    import __spark_entry__ as entry
    from csv_etl_spark.operators import similarity

    name = "record_clusters"
    sf_dir = str(data / "tables")
    query = entry.queries()[name]
    caches = _operator_caches()

    def clear() -> None:
        for c in caches:
            c.invalidate(blocking=True)
        similarity.release_sharded_broadcasts(destroy=True)

    def span(label: str):
        return run.tracer.span(label) if run.tracer is not None else contextlib.nullcontext()

    def rep():
        jobs0 = run.stages.max_job_id() if run.stages is not None else 0
        with span("operators.build"):
            df = query(spark, sf_dir)
        if run.stages is not None:
            run.add_layer("operators.build_jobs", run.stages.max_job_id() - jobs0)
        with span("operators.exec"):
            df.write.format("noop").mode("overwrite").save()
        return df

    clear()
    try:  # warm-up; its result feeds the oracle check
        got = run.warm(name, lambda: query(spark, sf_dir).toPandas())
        checks.append(lambda: _oracle_check(run, entry, sf_dir, name, got))
    except Exception as exc:  # noqa: BLE001 - a failed check, reported below
        run.untimed_op(run.check(False, f"{name} warm-up: {type(exc).__name__}: {exc}"[:300]))

    for _ in range(units):
        clear()
        df, ok = run.op(name, rep)
        if not ok:
            run.fail_op()
        elif run.tracer is not None:
            run.add_layer("catalyst.plan_ms", catalyst_plan_ms(df))
        run.end_unit()
    clear()


def _oracle_check(run: Run, entry, sf_dir: str, name: str, got) -> None:
    """The warm-up result against its DuckDB ``oracle_sql()`` twin, with
    the canonical row form of ``scripts/check_oracle.py``."""
    import duckdb

    sys.path.insert(0, str(Path(entry.__file__).resolve().parent / "scripts"))
    from check_oracle import canon

    con = duckdb.connect()
    for table in Path(sf_dir).glob("*.parquet"):
        con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM '{table}'")
    want = con.execute(entry.oracle_sql()[name]).fetchdf()
    con.close()
    run.untimed_op(run.check(canon(got) == canon(want), f"{name}: result differs from its oracle"))


# -- reporting ---------------------------------------------------------------


def _tail(samples: list[float]) -> dict:
    """The highest percentile with at least 10 samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return {"value_ms": None, "percentile": None, "n": n}
    k = n - 11
    return {"value_ms": xs[k], "percentile": round(100.0 * (k + 1) / n, 1), "n": n}


def end_to_end(run: Run, setup_s: float, live_mb: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_geomean_ms": {"value": _geomean_of_medians(run.op_ms), "unit": "ms"},
        "ops_ok_frac": {"value": (run.attempted - run.failed) / run.attempted, "unit": "frac"},
        "live_mb": {"value": live_mb, "unit": "MB"},
    }


def _unit_layers(unit: dict, cores: int) -> dict:
    """Per-layer values of one unit, per operation."""
    n, spans, eng, extra = unit["ops"], unit["spans"], unit["engine"], unit["extra"]

    def ms(name: str, i: int = 1) -> float:  # i: 1 = total, 2 = self time
        return spans[name][i] * 1e3 / n if name in spans else 0.0

    values = {
        "specs.load_ms": ms("specs.load"),
        "specs.loads": spans.get("specs.load", [0])[0] / n,
        "compiler.compile_ms": ms("compiler.compile"),
        "compiler.compiles": spans.get("compiler.compile", [0])[0] / n,
        "sources.scan_plan_ms": ms("sources.scan_plan"),
        "sources.write_ms": ms("sources.write"),
        "sources.edit_ms": ms("sources.edit"),
        "plans.transform_ms": ms("plans.transform"),
        "plans.transform_self_ms": ms("plans.transform", 2),
        "orchestrate.process_self_ms": ms("orchestrate.process", 2),
        "api.preview_self_ms": ms("api.preview", 2),
        "api.convert_self_ms": ms("api.convert", 2),
        "operators.build_ms": ms("operators.build"),
        "operators.build_jobs": extra.get("operators.build_jobs", 0.0) / n,
        "operators.exec_ms": ms("operators.exec"),
        "catalyst.plan_ms": extra.get("catalyst.plan_ms", 0.0) / n,
        "driver.gap_ms": eng.get("gap_ms", 0.0) / n,
        "spark.core_busy_frac": eng.get("task_run_s", 0.0) / (unit["timed_s"] * cores),
    }
    for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
                "input_mb", "spill_mb", "single_task_stage_s"):
        values[f"spark.{key}"] = eng.get(key, 0.0) / n
    return values


def per_layer(run: Run, get_spark_s: float) -> dict:
    units = [_unit_layers(u, run.stages.cores) for u in run.units]
    values = {k: statistics.median(u[k] for u in units) for k in units[0]}
    values["session.get_spark_s"] = get_spark_s
    return {k: {"value": values[k], "unit": u} for k, u in LAYER_METRICS.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["dashboard_loop", "record_clusters"])
    ap.add_argument("--data", required=True, type=Path)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    manifest = json.loads((args.data / "manifest.json").read_text())
    run = Run(trace=bool(args.trace))

    t0 = time.perf_counter()
    from csv_etl_spark import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    if run.tracer is not None:
        _install_etl_trace(run.tracer)
        run.stages = StageSnapshot(spark)
    checks: list = []
    try:
        units = _units(args.workload, args.seconds)
        if args.workload == "dashboard_loop":
            dashboard_loop(spark, run, args.data, manifest, units)
        else:
            record_clusters(spark, run, args.data, units, checks)
        setup_s = run.t_first_op - T_PROCESS_START
        live = _live_mb(spark)
        live_mb = live["driver_rss"] + live["jvm_rss"]
        t_checks = time.perf_counter()
        for check in checks:
            check()
        checks_s = time.perf_counter() - t_checks
        env = _env()
    finally:
        spark.stop()

    medians = {k: statistics.median(v) for k, v in run.op_ms.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": {k: manifest[k] for k in ("rows", "bytes", "files")},
        "op_ms": run.op_ms,
        "p50_ms": medians,
        "tail": _tail([x for v in run.op_ms.values() for x in v]),
        "timed_s": run.timed_s,
        "setup_parts": {"get_spark_s": get_spark_s, "warmup_ms": run.warm_ms},
        "checks_s": checks_s,
        "live_parts_mb": live,
        "failures": run.failures[:20],
        "env": env,
    }
    metrics = per_layer(run, get_spark_s) if run.tracer is not None else end_to_end(run, setup_s, live_mb)
    if run.tracer is not None:
        detail["end_to_end_traced"] = end_to_end(run, setup_s, live_mb)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
