"""Batch orchestration: directory processing and scheduled recurring runs
(reference ROADMAP.md "scheduled conversions" — the last road-mapped
feature family).

``convert_file`` is the one per-file routine: line numbers on the file's
scan, gated transform, ``<stem>_<destination id>.csv`` single-file write,
bounded error sample.  The dashboard's single-file convert (app.py:625-677) calls
it, and so does ``process_source``, the one shared implementation of "run
mapping M over every CSV in its source directory, gate on errors, account
totals" — the dashboard's POST /process (app.py:161-231) and the
scheduler both call that.

``Scheduler`` is deliberately clock-injected and poll-driven: jobs carry
a monotonic next-run deadline, ``run_pending()`` executes due jobs and
advances deadlines, and ``start()`` merely polls run_pending on a daemon
thread.  Determinism over cleverness — the unit tests drive a fake
clock, no sleeps; a production deployment would swap this for Airflow/
cron and call the same ``process_source``.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from csv_etl_spark.plans import TransformResult, transform
from csv_etl_spark.sources.csv_source import check_line_column, read_spec_csv, with_line_numbers
from csv_etl_spark.sources.sinks import write_single_csv_file
from csv_etl_spark.specs import ETLMapping, FileSpec, SpecStore


def convert_file(
    scan: DataFrame,
    csv_file: Path,
    mapping: ETLMapping,
    destination: FileSpec,
    output_root: str | Path,
    error_sample: int,
    fail_on_error: bool = True,
) -> tuple[TransformResult, Path]:
    """One input file, read as ``scan`` (its ``read_spec_csv`` frame),
    through the gated mapping into the single CSV
    ``<output_root>/<destination dir>/<stem>_<destination id>.csv``
    (reference app.py:194-212, 644-660).  Returns the result, whose
    ``error_sample`` holds the first ``error_sample`` errors, and the
    output path (written only when the gate passed)."""
    out_file = (
        Path(output_root) / destination.default_directory / f"{csv_file.stem}_{destination.id}.csv"
    )
    df = with_line_numbers(scan)
    result = transform(
        df,
        mapping,
        fail_on_error=fail_on_error,
        write=lambda out: write_single_csv_file(out, str(out_file)),
        error_sample=error_sample,
    )
    return result, out_file


def process_source(
    spark: SparkSession,
    store: SpecStore,
    mapping_id: str,
    input_root: str,
    output_root: str,
    fail_on_error: bool = True,
    error_cap: int = 50,
) -> dict:
    """Process every ``*.csv`` of the mapping's source directory through
    the compiled mapping; per-file gated single-CSV outputs named
    ``<stem>_<destination_id>.csv`` (reference app.py:194-212 semantics).

    Returns the reference's accounting shape: success/skipped/error
    totals, first ``error_cap`` errors with file context, last-100 logs.

    Every file's header is checked before the first file converts, so a
    file with a reserved ``_line`` column fails the run (a ``ValueError``
    naming the file) before any output is written.
    """
    mapping = store.get_mapping(mapping_id)
    if not mapping:
        raise ValueError(f"mapping '{mapping_id}' not found")
    source = store.get_source(mapping.source_id)
    destination = store.get_destination(mapping.destination_id)
    if not source or not destination:
        raise ValueError("invalid source or destination in mapping")

    input_path = Path(input_root) / source.default_directory
    totals = {"success_count": 0, "skipped_count": 0, "error_count": 0}
    all_errors: list[dict] = []
    all_logs: list[str] = []

    scans = {}
    for csv_file in sorted(input_path.glob("*.csv")):
        scans[csv_file] = read_spec_csv(spark, str(csv_file), source)
        try:
            check_line_column(scans[csv_file].columns)
        except ValueError as exc:
            raise ValueError(f"{csv_file.name}: {exc}") from None

    for csv_file, scan in scans.items():
        result, _ = convert_file(
            scan, csv_file, mapping, destination, output_root,
            error_cap - len(all_errors), fail_on_error,
        )
        totals["success_count"] += result.success_count
        totals["skipped_count"] += result.skipped_count
        totals["error_count"] += result.error_count
        all_errors += ({"file": csv_file.name, **e} for e in result.error_sample)
        all_logs.extend(f"[{csv_file.name}] {m}" for m in result.log_messages)

    return {
        "mapping_name": mapping.name,
        **totals,
        "errors": all_errors[:error_cap],
        "logs": all_logs[-100:],
        "has_more_errors": totals["error_count"] > len(all_errors),
    }


# ---------------------------------------------------------------------------
# Recurring runs
# ---------------------------------------------------------------------------


@dataclass
class Job:
    name: str
    interval: float
    action: Callable[[], object]
    next_run: float
    last_result: object = None
    runs: int = 0
    errors: int = 0
    last_error: str | None = None


@dataclass
class Scheduler:
    """Interval scheduler with an injected clock (monotonic seconds)."""

    clock: Callable[[], float] = time.monotonic
    jobs: dict[str, Job] = field(default_factory=dict)
    _thread: threading.Thread | None = None
    _stop: threading.Event = field(default_factory=threading.Event)

    def add_job(
        self, name: str, interval: float, action: Callable[[], object]
    ) -> Job:
        if interval <= 0:
            raise ValueError("interval must be positive")
        if name in self.jobs:
            raise ValueError(f"job '{name}' already scheduled")
        job = Job(name=name, interval=interval, action=action, next_run=self.clock() + interval)
        self.jobs[name] = job
        return job

    def remove_job(self, name: str) -> bool:
        return self.jobs.pop(name, None) is not None

    def run_pending(self) -> list[str]:
        """Run every due job once; a job that throws records the error and
        stays scheduled (a failing conversion must not kill the schedule).
        Deadlines advance from NOW, not from the missed slot — overdue
        jobs run once, they don't burst-replay missed intervals."""
        ran = []
        now = self.clock()
        for job in list(self.jobs.values()):
            if now < job.next_run:
                continue
            try:
                job.last_result = job.action()
            except Exception as exc:  # noqa: BLE001 - surfaced on the job
                job.errors += 1
                job.last_error = f"{type(exc).__name__}: {exc}"
            job.runs += 1
            job.next_run = self.clock() + job.interval
            ran.append(job.name)
        return ran

    def start(self, poll_seconds: float = 0.5) -> None:
        """Poll run_pending on a daemon thread until stop()."""
        if self._thread is not None:
            raise RuntimeError("scheduler already started")
        self._stop.clear()

        def loop() -> None:
            while not self._stop.wait(poll_seconds):
                self.run_pending()

        self._thread = threading.Thread(target=loop, name="csv-etl-scheduler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None


def schedule_source_processing(
    scheduler: Scheduler,
    spark: SparkSession,
    store: SpecStore,
    mapping_id: str,
    input_root: str,
    output_root: str,
    every_seconds: float,
    fail_on_error: bool = True,
) -> Job:
    """Wire a recurring directory run: every ``every_seconds``, process the
    mapping's source directory (ROADMAP's 'scheduled conversions')."""
    return scheduler.add_job(
        name=f"process:{mapping_id}",
        interval=every_seconds,
        action=lambda: process_source(
            spark, store, mapping_id, input_root, output_root, fail_on_error
        ),
    )
