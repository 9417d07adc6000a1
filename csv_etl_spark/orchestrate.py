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

The upload memo: ``measure`` is the one validation pass of a file under
a mapping (the dashboard preview's, and ``convert_file``'s), and it
remembers what the pass measured — the counts and the first errors, no
rows.  A later request on the unchanged file that will write nothing (a
dry run, a gated write, no kept rows, a mapping without fields) is
answered from that with no scan and no Spark job; every request that
writes runs the full pass, so the gate and the write read the same rows.
The key holds the session, the file's realpath and stat (device, inode,
size, mtime and ctime, taken before the scan is built), the source spec,
the mapping and the session's SQL conf, so any write to the file, any
saved spec or mapping and any conf change is a miss; nothing invalidates
entries by hand.

``Scheduler`` is deliberately clock-injected and poll-driven: jobs carry
a monotonic next-run deadline, ``run_pending()`` executes due jobs and
advances deadlines, and ``start()`` merely polls run_pending on a daemon
thread.  Determinism over cleverness — the unit tests drive a fake
clock, no sleeps; a production deployment would swap this for Airflow/
cron and call the same ``process_source``.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from csv_etl_spark.compiler import mapping_json
from csv_etl_spark.driver_memo import BoundedDriverMemo
from csv_etl_spark.plans.pipeline import PassCounts, TransformResult, settle, transform
from csv_etl_spark.sources.csv_source import check_line_column, read_spec_csv, with_line_numbers
from csv_etl_spark.sources.sinks import write_single_csv_file
from csv_etl_spark.specs import ETLMapping, FileSpec, SpecStore


class Upload:
    """One input file as one request finds it.  Constructing it stats the
    file, before anything builds a scan of it: Spark's file index fixes
    the file's length when the scan is built, so a stat taken first sees
    every change the scan can see.  The scan and its line numbers are
    built on first use, which a request the upload memo serves never
    makes."""

    def __init__(self, spark: SparkSession, path: str | Path, source: FileSpec) -> None:
        self.spark, self.path, self.source = spark, Path(path), source
        self.state = _upload_state(spark, self.path, source)
        self._scan: DataFrame | None = None
        self._lined: DataFrame | None = None

    def scan(self) -> DataFrame:
        """The file's ``read_spec_csv`` frame."""
        if self._scan is None:
            self._scan = read_spec_csv(self.spark, str(self.path), self.source)
        return self._scan

    def lined(self) -> DataFrame:
        """The scan with its line numbers (``with_line_numbers``)."""
        if self._lined is None:
            self._lined = with_line_numbers(self.scan())
        return self._lined


def _upload_state(spark: SparkSession, path: Path, source: FileSpec) -> tuple | None:
    """(applicationId, realpath, st_dev, st_ino, st_size, st_mtime_ns,
    st_ctime_ns, source spec JSON, SQL conf fingerprint), or None when the
    file cannot be stat'ed.  ctime is in it because ``os.utime`` can
    restore a rewritten file's mtime but not its ctime.  The conf matters
    because ANSI mode, the session time zone and the parser policy change
    what a pass measures; the fingerprint is every conf set in the session
    (printed from an immutable map, whose order follows its contents)."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        return None
    conf = spark.conf._jconf.getAllAsJava().toString()
    return (
        spark.sparkContext.applicationId,
        real, st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns,
        json.dumps(source.to_dict(), sort_keys=True),
        hashlib.sha256(conf.encode()).hexdigest(),
    )


@dataclass(frozen=True)
class _Measured:
    """What one validation pass of a file measured: plain values only."""

    counts: PassCounts
    errors: tuple[dict, ...]  # the first errors, in file order
    cap: int  # the error sample size they were collected under

    def covers(self, error_sample: int) -> bool:
        """Whether the first ``error_sample`` errors are all stored."""
        return error_sample <= self.cap or len(self.errors) == self.counts.errors


# Errors a result reports at most: the reference UI shows at most 50
# (app.py:221), so collecting more buys nothing and risks the driver.
DEFAULT_ERROR_CAP = 50

# The measured outcome of each upload's validation pass (module
# docstring).  An entry is a few hundred bytes of key (path, spec and
# mapping JSON) plus four counts and at most the request's error cap of
# error dicts (``DEFAULT_ERROR_CAP`` on the dashboard's routes).
_UPLOAD_MEMO = BoundedDriverMemo(max_entries=32)


def _memo_key(upload: Upload, mapping: ETLMapping) -> tuple | None:
    # The compile memo keys on the mapping and the source columns; the
    # columns are the file's header read under the source spec, both of
    # which the upload's state already fixes.
    text = mapping_json(mapping)
    if upload.state is None or text is None:
        return None
    return (*upload.state, text)


def measure(
    upload: Upload,
    mapping: ETLMapping,
    error_sample: int,
    dry_run: bool = False,
    fail_on_error: bool = True,
    write: Callable[[DataFrame], None] | None = None,
) -> TransformResult:
    """``transform`` of the upload's line-numbered scan through the upload
    memo (module docstring); the arguments are ``transform``'s.  A
    request the memo answers gets the same counts, error sample and log
    lines as its pass would give, with ``output`` and ``errors`` set to
    None; a request that writes runs its pass.  A pass fills the memo
    only when the file's stat and the session's conf after it equal
    those the upload took before its scan was built."""
    key = _memo_key(upload, mapping)
    stored = _UPLOAD_MEMO.get(key)
    if stored is not None and stored.covers(error_sample):
        sink = "custom sink" if write is not None else None
        result = settle(mapping, stored.counts, dry_run, fail_on_error, sink=sink)
        if not result.output_written:
            result.error_sample = [dict(e) for e in stored.errors[:error_sample]]
            return result
    result = transform(
        upload.lined(), mapping, fail_on_error=fail_on_error, dry_run=dry_run,
        write=write, error_sample=error_sample,
    )
    if key is not None and _upload_state(upload.spark, upload.path, upload.source) == upload.state:
        errors = tuple(dict(e) for e in result.error_sample)
        _UPLOAD_MEMO.put(key, _Measured(result.counts, errors, error_sample))
    return result


def convert_file(
    upload: Upload,
    mapping: ETLMapping,
    destination: FileSpec,
    output_root: str | Path,
    error_sample: int,
    fail_on_error: bool = True,
) -> tuple[TransformResult, Path]:
    """One input file through the gated mapping into the single CSV
    ``<output_root>/<destination dir>/<stem>_<destination id>.csv``
    (reference app.py:194-212, 644-660), by ``measure``.  Returns the
    result, whose ``error_sample`` holds the first ``error_sample``
    errors, and the output path (written only when the gate passed).  A
    gated request on an unchanged file the upload memo holds is answered
    from it, with ``result.output`` and ``result.errors`` None."""
    out_file = (
        Path(output_root) / destination.default_directory / f"{upload.path.stem}_{destination.id}.csv"
    )
    result = measure(
        upload, mapping, error_sample, fail_on_error=fail_on_error,
        write=lambda out: write_single_csv_file(out, str(out_file)),
    )
    return result, out_file


def process_source(
    spark: SparkSession,
    store: SpecStore,
    mapping_id: str,
    input_root: str,
    output_root: str,
    fail_on_error: bool = True,
) -> dict:
    """Process every ``*.csv`` of the mapping's source directory through
    the compiled mapping; per-file gated single-CSV outputs named
    ``<stem>_<destination_id>.csv`` (reference app.py:194-212 semantics).

    Returns the reference's accounting shape: success/skipped/error
    totals, the first ``DEFAULT_ERROR_CAP`` errors with file context,
    last-100 logs.
    Each file goes through ``convert_file``: a file the upload memo
    answers runs no Spark job (its per-file result has ``output`` and
    ``errors`` None; this summary is the same either way).

    Every file's header is checked before the first file converts, so a
    file with a reserved ``_line`` column fails the run (a ``ValueError``
    naming the file) before any output is written.  A file the memo
    holds an entry for passed that check in the pass that filled it.
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

    uploads = [Upload(spark, f, source) for f in sorted(input_path.glob("*.csv"))]
    for up in uploads:
        if _UPLOAD_MEMO.get(_memo_key(up, mapping)) is None:
            try:
                check_line_column(up.scan().columns)
            except ValueError as exc:
                raise ValueError(f"{up.path.name}: {exc}") from None

    for up in uploads:
        result, _ = convert_file(
            up, mapping, destination, output_root, DEFAULT_ERROR_CAP - len(all_errors),
            fail_on_error,
        )
        totals["success_count"] += result.success_count
        totals["skipped_count"] += result.skipped_count
        totals["error_count"] += result.error_count
        all_errors += ({"file": up.path.name, **e} for e in result.error_sample)
        all_logs.extend(f"[{up.path.name}] {m}" for m in result.log_messages)

    return {
        "mapping_name": mapping.name,
        **totals,
        "errors": all_errors[:DEFAULT_ERROR_CAP],
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
