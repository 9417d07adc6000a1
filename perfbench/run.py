"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  Generates (or reuses) the seeded inputs of
workload ``W`` under ``perfbench/data/``, then runs ``loadgen.py`` as one
child process with the engine on ``PYTHONPATH`` (Spark's Python workers
import ``csv_etl_spark`` to unpickle its UDFs), ``SPARK_GRAFT_CPUS`` set to
the host's core count, and every scratch directory (Spark local dirs, temp
files, warehouse) inside ``perfbench/work/``.  The last stdout line is the
result JSON: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it carries per-kind medians, input size and a machine-state stamp.

Exits non-zero, without a result line, when the engine is not beside the
benchmark or the run fails or overruns.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

WORKLOADS = {
    # dashboard edit loop over one 5k-row upload with one bad row
    "dashboard_loop": {"rows": 5_000},
    # record_clusters over 600 customer keys (~700 entities with variants)
    "record_clusters": {"customers": 600},
}
CHILD_TIMEOUT_S = 150  # with reaping, a failed run still ends within 3 minutes
KEEP_SEEDS = 4  # cached input sets kept per workload


def _prune_cache(workload: str, keep: Path) -> None:
    sets = sorted(gen.DATA_ROOT.glob(f"{workload}-*"), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in [p for p in sets if p != keep][KEEP_SEEDS - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def _reap(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the child's group (the Spark JVM and its
    Python workers) to end; kill what is left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    sig = 0
    while True:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not ((ROOT / "csv_etl_spark").is_dir() and (ROOT / "bench.py").is_file()):
        print(f"perfbench: the engine (csv_etl_spark/, bench.py) is not in {ROOT}", file=sys.stderr)
        return 2

    data, _ = gen.ensure_inputs(args.workload, args.seed, WORKLOADS[args.workload])
    os.utime(data)
    _prune_cache(args.workload, data)

    work = HERE / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    )
    cmd = [
        sys.executable, str(HERE / "loadgen.py"), "--workload", args.workload,
        "--data", str(data), "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, process_group=0)
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.communicate(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
        print(f"perfbench: {args.workload} overran {CHILD_TIMEOUT_S}s", file=sys.stderr)
        return 1
    finally:
        _reap(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: load generator exited {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    print("\n".join(lines[-2:]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
