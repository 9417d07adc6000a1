"""The driver captures only the last ~2000 chars of bench.py stdout.
Rounds 5 and 9 both lost their official bench record to this ("parsed":
null) when the single JSON line grew with the query count.  These tests
pin the fix: the stdout line is fixed-size by construction — it carries
the constant parity subset, never the full per-query dict — so adding
headline queries cannot re-break the record.
"""

import json

import bench


def _fake_timings(n: int) -> dict[str, float]:
    # worst-case widths: long names, 4-digit-second timings
    return {f"some_longish_query_name_{i:04d}": 1234.567 for i in range(n)}


def test_stdout_line_is_bounded_at_500_queries():
    line = json.dumps(
        bench.summary_line(99999.999, _fake_timings(500), n_runs=5, sf=1.0),
        separators=(",", ":"),
    )
    # 2000-char driver capture minus headroom for the tail of any
    # preceding stderr interleaving artifacts
    assert len(line) < 1500, len(line)


def test_stdout_line_size_does_not_grow_with_query_count():
    small = json.dumps(
        bench.summary_line(1.0, _fake_timings(10), 3, 0.1), separators=(",", ":")
    )
    big = json.dumps(
        bench.summary_line(1.0, _fake_timings(400), 3, 0.1), separators=(",", ":")
    )
    # n_queries 10 -> 400 adds at most the digit-width of the count
    assert len(big) - len(small) <= 2


def test_parity_subset_rides_the_line():
    timings = _fake_timings(100)
    for name in bench.PARITY_QUERIES:
        timings[name] = 0.5
    payload = bench.summary_line(50.0, timings, 3, 0.1)
    assert set(payload["queries"]) == set(bench.PARITY_QUERIES)
    assert payload["n_queries"] == 105
    assert payload["detail"].startswith("bench_records/")


def test_detail_reports_actual_write_path(tmp_path):
    """SPARK_GRAFT_BENCH_DETAIL set to an absolute path: the summary line
    must report THAT path, not 'bench_records/<abs-path>' (ADVICE r10)."""
    from pathlib import Path

    abs_detail = tmp_path / "custom_detail.json"
    payload = bench.summary_line(1.0, _fake_timings(3), 3, 0.1, abs_detail)
    assert payload["detail"] == str(abs_detail)
    # repo-relative detail paths stay repo-relative
    repo_detail = Path(bench.__file__).resolve().parent / "bench_records" / "x.json"
    payload2 = bench.summary_line(1.0, _fake_timings(3), 3, 0.1, repo_detail)
    assert payload2["detail"] == "bench_records/x.json"


def test_parity_queries_are_all_headline():
    for name in bench.PARITY_QUERIES:
        assert name in bench.HEADLINE


def test_bench_diff_parses_snapshots(tmp_path):
    """scripts/bench_diff.py must parse two BENCH_FULL snapshots and
    classify regressions/improvements with the absolute-floor guard
    (r11 verdict ask #4: round-over-round attribution from committed
    artifacts)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import bench_diff

    prev = {"value": 10.0, "queries": {"a": 1.0, "b": 4.0, "tiny": 0.1, "gone": 1.0}}
    curr = {"value": 12.0, "queries": {"a": 1.0, "b": 6.0, "tiny": 0.2, "new": 1.0}}
    d = bench_diff.diff(prev, curr, threshold=0.3)
    assert d["regressions"] == ["b"]          # +50% and +2.0s
    assert "tiny" not in d["regressions"]      # +100% but under abs floor
    assert d["added"] == ["new"] and d["removed"] == ["gone"]
    assert d["per_query"]["b"]["delta_pct"] == 0.5
    # and the real committed snapshot parses against itself
    real = bench_diff._load("BENCH_FULL_r11.json")
    self_diff = bench_diff.diff(real, real, 0.3)
    assert self_diff["n_shared"] >= 80 and not self_diff["regressions"]


def test_env_stamp_and_diff_surfacing():
    """r12 verdict ask #8: snapshots carry machine-state markers and
    bench_diff surfaces them, flagging contended snapshots."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import bench_diff

    stamp = bench._env_stamp()
    assert "loadavg" in stamp and len(stamp["loadavg"]) == 3
    assert "foreign_jvm_py" in stamp and "exclusive" in stamp
    # the pytest process itself is python in OUR session → not foreign
    assert isinstance(stamp["foreign_jvm_py"], int)

    contended = {"start": {"exclusive": False, "foreign_jvm_py": 2},
                 "end": {"exclusive": True, "foreign_jvm_py": 0}}
    clean = {"start": {"exclusive": True}, "end": {"exclusive": True}}
    d = bench_diff.diff(
        {"value": 1.0, "queries": {"a": 1.0}, "env": contended},
        {"value": 1.0, "queries": {"a": 1.0}, "env": clean},
        0.3,
    )
    assert d["env_note"] and "prev" in d["env_note"]
    assert d["env_prev"] == contended and d["env_curr"] == clean
    # stamp-less legacy snapshots: no note, nulls surface
    d2 = bench_diff.diff({"queries": {}}, {"queries": {}}, 0.3)
    assert d2["env_note"] is None


def test_scale_report_does_not_depend_on_file_mtimes(tmp_path, monkeypatch):
    """scripts/gen_scale_report.py renders the committed SCALE.md from
    bench_records/ whatever mtimes a checkout gives the records: two
    copies stamped in opposite orders give the same bytes."""
    import os
    import shutil
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo / "scripts"))
    import gen_scale_report

    outputs = []
    for direction in (1, -1):
        records = tmp_path / f"records{direction}"
        shutil.copytree(repo / "bench_records", records)
        for i, f in enumerate(sorted(records.iterdir(), reverse=direction < 0)):
            os.utime(f, (1_000_000 + i, 1_000_000 + i))
        out = tmp_path / f"SCALE{direction}.md"
        monkeypatch.setattr(gen_scale_report, "RECORDS", records)
        monkeypatch.setattr(gen_scale_report, "OUT", out)
        gen_scale_report.main()
        outputs.append(out.read_text())
    assert outputs[0] == outputs[1]
    assert outputs[0] == (repo / "SCALE.md").read_text()
