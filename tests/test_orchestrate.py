"""Orchestration: shared directory processing + the recurring-run
scheduler (reference ROADMAP.md 'scheduled conversions').  Scheduler
tests drive an injected fake clock — no sleeps."""

from __future__ import annotations

import json
import subprocess
import sys
import threading
from pathlib import Path

import pytest

from csv_etl_spark.orchestrate import (
    Scheduler,
    process_source,
    schedule_source_processing,
)
from csv_etl_spark.specs import ColumnSpec, FileSpec, SpecStore


class FakeClock:
    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_scheduler_runs_due_jobs_only():
    clock = FakeClock()
    s = Scheduler(clock=clock)
    calls = []
    s.add_job("a", interval=10, action=lambda: calls.append("a"))
    s.add_job("b", interval=25, action=lambda: calls.append("b"))

    assert s.run_pending() == []  # nothing due yet
    clock.t = 10
    assert s.run_pending() == ["a"]
    clock.t = 26
    assert sorted(s.run_pending()) == ["a", "b"]
    assert calls == ["a", "a", "b"]


def test_scheduler_overdue_runs_once_not_burst():
    clock = FakeClock()
    s = Scheduler(clock=clock)
    calls = []
    s.add_job("a", interval=5, action=lambda: calls.append(1))
    clock.t = 100  # 20 intervals missed
    assert s.run_pending() == ["a"]
    assert len(calls) == 1  # no replay of missed slots
    assert s.jobs["a"].next_run == 105  # deadline from NOW


def test_scheduler_failing_job_stays_scheduled():
    clock = FakeClock()
    s = Scheduler(clock=clock)

    def boom():
        raise RuntimeError("conversion exploded")

    s.add_job("a", interval=5, action=boom)
    clock.t = 5
    s.run_pending()
    job = s.jobs["a"]
    assert job.errors == 1 and "conversion exploded" in job.last_error
    clock.t = 10
    s.run_pending()
    assert job.errors == 2  # still scheduled, still failing


def test_scheduler_rejects_duplicates_and_bad_interval():
    s = Scheduler(clock=FakeClock())
    s.add_job("a", interval=1, action=lambda: None)
    with pytest.raises(ValueError, match="already scheduled"):
        s.add_job("a", interval=1, action=lambda: None)
    with pytest.raises(ValueError, match="positive"):
        s.add_job("b", interval=0, action=lambda: None)
    assert s.remove_job("a") and not s.remove_job("a")


@pytest.fixture
def etl_env(tmp_path):
    cfg = tmp_path / "config"
    cfg.mkdir()
    (cfg / "sources.json").write_text(json.dumps({
        "s": {"id": "s", "name": "s", "default_directory": "in1",
              "columns": [{"name": "Ticker", "type": "string"}]}
    }))
    (cfg / "destinations.json").write_text(json.dumps({
        "d": {"id": "d", "name": "d", "default_directory": "out1",
              "columns": [{"name": "symbol", "type": "string"}]}
    }))
    (cfg / "mappings.json").write_text(json.dumps({
        "m": {"id": "m", "name": "m", "source_id": "s", "destination_id": "d",
              "field_mappings": [
                  {"destination_field": "symbol", "source_field": "Ticker",
                   "transform_type": "direct", "transform_config": {}}],
              "filter_rules": []}
    }))
    in_dir = tmp_path / "in" / "in1"
    in_dir.mkdir(parents=True)
    (in_dir / "a.csv").write_text("Ticker\nAAPL\nMSFT\n")
    return SpecStore(str(cfg)), tmp_path


def test_process_source_totals_and_output(spark, etl_env):
    store, tmp_path = etl_env
    result = process_source(spark, store, "m", str(tmp_path / "in"), str(tmp_path / "out"))
    assert result["success_count"] == 2 and result["error_count"] == 0
    out = (tmp_path / "out" / "out1" / "a_d.csv").read_text().splitlines()
    assert out[0] == "symbol" and sorted(out[1:]) == ["AAPL", "MSFT"]


def test_scheduled_processing_picks_up_new_files(spark, etl_env):
    store, tmp_path = etl_env
    clock = FakeClock()
    s = Scheduler(clock=clock)
    job = schedule_source_processing(
        s, spark, store, "m", str(tmp_path / "in"), str(tmp_path / "out"), every_seconds=60
    )
    clock.t = 60
    assert s.run_pending() == ["process:m"]
    assert job.last_result["success_count"] == 2

    (tmp_path / "in" / "in1" / "b.csv").write_text("Ticker\nGOOG\n")
    clock.t = 120
    s.run_pending()
    assert job.runs == 2
    assert job.last_result["success_count"] == 3  # reprocessed a + new b
    assert (tmp_path / "out" / "out1" / "b_d.csv").exists()


def test_spec_store_save_failing_mid_write_keeps_the_old_file(tmp_path):
    """A save that fails part way through its write (here: a child
    process with a 244-byte file-size limit) leaves the stored specs as
    they were and no temp file behind: the store writes a temp file and
    renames it over the old one."""
    SpecStore(str(tmp_path)).save_source(
        FileSpec(id="kept", name="kept", columns=[ColumnSpec("a")])
    )
    before = (tmp_path / "sources.json").read_text()
    repo = str(Path(__file__).resolve().parents[1])
    script = f"""
import resource, signal, sys
sys.path.insert(0, {repo!r})
from csv_etl_spark.specs import ColumnSpec, FileSpec, SpecStore
store = SpecStore({str(tmp_path)!r})
signal.signal(signal.SIGXFSZ, signal.SIG_IGN)
resource.setrlimit(resource.RLIMIT_FSIZE, (244, 244))
store.save_source(FileSpec(id="big", name="x" * 10000, columns=[ColumnSpec("a")]))
"""
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True)
    assert proc.returncode != 0 and "File too large" in proc.stderr, proc.stderr
    assert (tmp_path / "sources.json").read_text() == before
    assert [p.name for p in tmp_path.iterdir()] == ["sources.json"]
    assert SpecStore(str(tmp_path)).get_source("kept").name == "kept"


def test_spec_store_concurrent_saves_keep_every_update(tmp_path):
    """16 threads each save a different source into one store at once:
    every save re-reads the file under the store's lock, so all 16 are
    stored (an unlocked read-modify-write kept 2 of 16)."""
    store = SpecStore(str(tmp_path))
    start = threading.Barrier(16)

    def save(i):
        start.wait()
        store.save_source(FileSpec(id=f"s{i}", name=f"s{i}", columns=[ColumnSpec("a")]))

    threads = [threading.Thread(target=save, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(SpecStore(str(tmp_path)).sources()) == sorted(f"s{i}" for i in range(16))
    assert [p.name for p in tmp_path.iterdir()] == ["sources.json"]
