"""HTTP facade (csv_etl_spark.api) against the reference dashboard's JSON
contract: preview+validate, inline row update, gated convert, bulk
process, mapping CRUD — each endpoint driving the compiled-plan engine.
Reference semantics at converter_dashboard/app.py:161-231, 424-448,
515-677."""

from __future__ import annotations

import json
import os

import pytest

from csv_etl_spark.api import create_app
from csv_etl_spark.sources.csv_source import read_spec_csv
from csv_etl_spark.specs import SpecStore
from tests.conftest import newest_job_id


@pytest.fixture
def env(spark, tmp_path):
    cfg = tmp_path / "config"
    cfg.mkdir()
    (cfg / "sources.json").write_text(json.dumps({
        "src1": {
            "id": "src1", "name": "Source 1", "default_directory": "s1",
            "columns": [{"name": "Date", "type": "string"},
                        {"name": "Ticker", "type": "string"},
                        {"name": "Type", "type": "string"}],
        }
    }))
    (cfg / "destinations.json").write_text(json.dumps({
        "dst1": {
            "id": "dst1", "name": "Dest 1", "default_directory": "d1",
            "columns": [{"name": "date", "type": "string"},
                        {"name": "symbol", "type": "string"}],
        }
    }))
    (cfg / "mappings.json").write_text(json.dumps({
        "m1": {
            "id": "m1", "name": "M1", "source_id": "src1", "destination_id": "dst1",
            "field_mappings": [
                {"destination_field": "date", "source_field": "Date",
                 "transform_type": "date_format",
                 "transform_config": {"input_format": "%Y-%m-%d",
                                      "output_format": "%d.%m.%Y"}},
                {"destination_field": "symbol", "source_field": "Ticker",
                 "transform_type": "direct", "transform_config": {}},
            ],
            "filter_rules": [{"field": "Type", "operator": "equals", "value": "SKIPME"}],
        }
    }))
    in_dir = tmp_path / "in" / "s1"
    in_dir.mkdir(parents=True)
    (in_dir / "a.csv").write_text(
        "Date,Ticker,Type\n"
        "2024-01-15,AAPL,BUY\n"
        "not-a-date,MSFT,BUY\n"
        "2024-01-17,GOOG,SKIPME\n"
    )
    app = create_app(spark, str(cfg), str(tmp_path / "in"), str(tmp_path / "out"))
    app.config["TESTING"] = True
    return app.test_client(), tmp_path, cfg


def test_preview_with_validation(env):
    client, tmp_path, _ = env
    r = client.get("/api/preview/src1/a.csv?mapping_id=m1")
    assert r.status_code == 200
    body = r.get_json()
    assert body["columns"] == ["Date", "Ticker", "Type"]
    assert body["total"] == 3
    assert body["rows"][0] == {"_line": 2, "Date": "2024-01-15", "Ticker": "AAPL", "Type": "BUY"}
    # line 3 has the unparseable date; skip-rule row has no errors
    assert set(body["errors_by_line"]) == {"3"} or set(body["errors_by_line"]) == {3}
    v = body["validation"]
    assert (v["success_count"], v["skipped_count"], v["error_count"]) == (1, 1, 1)


def test_preview_missing_file_and_source(env):
    client, _, _ = env
    assert client.get("/api/preview/nope/a.csv").status_code == 404
    assert client.get("/api/preview/src1/nope.csv").status_code == 404


def test_convert_gated_then_fixed_via_update(env):
    client, tmp_path, _ = env
    r = client.post("/api/preview/src1/a.csv/convert", json={"mapping_id": "m1"})
    assert r.status_code == 400
    body = r.get_json()
    assert body["success"] is False
    assert any(e["field"] == "date" for e in body["errors"])
    assert not (tmp_path / "out" / "d1" / "a_dst1.csv").exists()  # withheld

    # fix the bad row inline (reference validate→fix→convert loop)
    r = client.post(
        "/api/preview/src1/a.csv/update",
        json={"line": 3, "row": {"Date": "2024-01-16"}},
    )
    assert r.status_code == 200

    r = client.post("/api/preview/src1/a.csv/convert", json={"mapping_id": "m1"})
    assert r.status_code == 200, r.get_json()
    out = (tmp_path / "out" / "d1" / "a_dst1.csv").read_text().splitlines()
    assert out[0] == "date,symbol"
    assert sorted(out[1:]) == ["15.01.2024,AAPL", "16.01.2024,MSFT"]


def test_backtick_header_preview_edit_convert(env):
    """An uploaded header is the user's column name verbatim: a backtick
    in it must not break the compiled plan of preview, edit or convert."""
    import io

    client, tmp_path, _ = env
    r = client.post(
        "/api/upload/src1",
        data={"file": (io.BytesIO(b"Date,Ti`cker,Type\n2024-01-15,AAPL,BUY\n"
                                  b"2024-01-16,MSFT,BUY\n"), "bt.csv")},
        content_type="multipart/form-data",
    )
    assert r.status_code == 201
    r = client.post("/api/mappings/m1/save", json={"field_mappings": [
        {"destination_field": "date", "source_field": "Date",
         "transform_type": "date_format",
         "transform_config": {"input_format": "%Y-%m-%d", "output_format": "%d.%m.%Y"}},
        {"destination_field": "symbol", "source_field": "Ti`cker",
         "transform_type": "direct", "transform_config": {}},
    ]})
    assert r.status_code == 200

    r = client.get("/api/preview/src1/bt.csv?mapping_id=m1")
    assert r.status_code == 200, r.get_data(as_text=True)[:300]
    body = r.get_json()
    assert body["columns"] == ["Date", "Ti`cker", "Type"]
    assert [row["Ti`cker"] for row in body["rows"]] == ["AAPL", "MSFT"]
    assert (body["validation"]["success_count"], body["validation"]["error_count"]) == (2, 0)

    r = client.post("/api/preview/src1/bt.csv/update",
                    json={"line": 3, "row": {"Ti`cker": "TSLA"}})
    assert r.status_code == 200, r.get_data(as_text=True)[:300]

    r = client.post("/api/preview/src1/bt.csv/convert", json={"mapping_id": "m1"})
    assert r.status_code == 200, r.get_data(as_text=True)[:300]
    out = (tmp_path / "out" / "d1" / "bt_dst1.csv").read_text().splitlines()
    assert out == ["date,symbol", "15.01.2024,AAPL", "16.01.2024,TSLA"]


def test_reserved_line_column_is_400(env):
    """``_line`` is the engine's line-number column: a file whose header
    has one is refused by every per-file endpoint with a JSON 400, and the
    file is left byte-identical (an edit once rewrote it without the
    user's ``_line`` column)."""
    client, tmp_path, _ = env
    f = tmp_path / "in" / "s1" / "l.csv"
    f.write_bytes(b"Date,_line,Ticker\n2024-01-15,x,AAPL\n2024-01-16,y,MSFT\n")
    before = f.read_bytes()
    for call in (
        lambda: client.get("/api/preview/src1/l.csv"),
        lambda: client.get("/api/preview/src1/l.csv?mapping_id=m1"),
        lambda: client.post("/api/preview/src1/l.csv/update",
                            json={"line": 2, "row": {"Date": "2024-01-14"}}),
        lambda: client.post("/api/preview/src1/l.csv/convert", json={"mapping_id": "m1"}),
        lambda: client.post("/api/process/src1", json={"mapping_id": "m1"}),
    ):
        r = call()
        assert r.status_code == 400, r.get_data(as_text=True)[:300]
        assert "'_line'" in r.get_json()["error"]
    assert f.read_bytes() == before
    assert not (tmp_path / "out" / "d1" / "l_dst1.csv").exists()


def test_process_bulk(env):
    client, tmp_path, _ = env
    (tmp_path / "in" / "s1" / "b.csv").write_text(
        "Date,Ticker,Type\n2024-02-01,TSLA,BUY\n"
    )
    r = client.post("/api/process/src1", json={"mapping_id": "m1"})
    assert r.status_code == 200
    body = r.get_json()
    # a.csv: 1 ok, 1 skipped, 1 error; b.csv: 1 ok
    assert body["success_count"] == 2
    assert body["skipped_count"] == 1
    assert body["error_count"] == 1
    assert body["errors"][0]["file"] == "a.csv"
    # fail_on_error gates a.csv, b.csv converts
    assert not (tmp_path / "out" / "d1" / "a_dst1.csv").exists()
    assert (tmp_path / "out" / "d1" / "b_dst1.csv").exists()


def test_process_checks_every_header_first(env):
    """A bulk run is all-or-nothing on headers: a later file with a
    reserved ``_line`` column fails the request with a 400 naming that
    file before any earlier file is converted."""
    client, tmp_path, _ = env
    (tmp_path / "in" / "s1" / "a.csv").write_text("Date,Ticker,Type\n2024-01-15,AAPL,BUY\n")
    (tmp_path / "in" / "s1" / "l.csv").write_text("Date,_line,Ticker\n2024-01-15,x,AAPL\n")
    r = client.post("/api/process/src1", json={"mapping_id": "m1"})
    assert r.status_code == 400
    error = r.get_json()["error"]
    assert "l.csv" in error and "'_line'" in error
    out = tmp_path / "out"
    assert not out.exists() or not any(p.is_file() for p in out.rglob("*"))


def test_mapping_save_preserves_filter_rules(env):
    """Divergence from the reference's visual-editor bug (visual.html:551
    always posts filter_rules: []): absent key leaves filters untouched."""
    client, _, cfg = env
    new_fms = [{"destination_field": "symbol", "source_field": "Ticker",
                "transform_type": "direct", "transform_config": {}}]
    r = client.post("/api/mappings/m1/save", json={"field_mappings": new_fms})
    assert r.status_code == 200
    saved = SpecStore(str(cfg)).get_mapping("m1")
    assert len(saved.field_mappings) == 1
    assert saved.filter_rules  # NOT wiped

    r = client.post(
        "/api/mappings/m1/save",
        json={"field_mappings": new_fms, "filter_rules": []},
    )
    assert r.status_code == 200
    assert SpecStore(str(cfg)).get_mapping("m1").filter_rules == []


def test_preview_row_cap(env):
    """Collects are bounded: ?limit caps the rows collected to the driver
    while total still reports the full file row count."""
    client, _, _ = env
    body = client.get("/api/preview/src1/a.csv?limit=1").get_json()
    assert body["total"] == 3
    assert len(body["rows"]) == 1
    assert body["rows"][0]["_line"] == 2


def test_error_entries_default_cap(env, monkeypatch):
    """cap=None means DEFAULT_ERROR_CAP, never unbounded (api.py facade
    mirror of the reference UI's 50-error cap, app.py:221)."""
    import csv_etl_spark.api as api_mod

    monkeypatch.setattr(api_mod, "DEFAULT_ERROR_CAP", 0)
    client, _, _ = env
    body = client.get("/api/preview/src1/a.csv?mapping_id=m1").get_json()
    assert body["errors_by_line"] == {}  # capped at 0 ⇒ nothing collected
    assert body["validation"]["error_count"] == 1  # counters unaffected


def test_mapping_save_bad_payload_is_400(env):
    client, _, cfg = env
    before = SpecStore(str(cfg)).get_mapping("m1").to_dict()
    r = client.post(
        "/api/mappings/m1/save",
        json={"field_mappings": [{"destination_field": "x", "transform_type": "warp"}]},
    )
    assert r.status_code == 400 and "error" in r.get_json()
    r = client.post(
        "/api/mappings/m1/save",
        json={"field_mappings": [{"source_field": "Ticker"}]},  # no destination_field
    )
    assert r.status_code == 400 and "error" in r.get_json()
    # nothing was persisted by the failed saves
    assert SpecStore(str(cfg)).get_mapping("m1").to_dict() == before


def test_mapping_crud(env):
    client, _, _ = env
    assert "m1" in client.get("/api/mappings").get_json()
    assert client.get("/api/mappings/m1").get_json()["name"] == "M1"
    assert client.get("/api/mappings/nope").status_code == 404
    assert client.delete("/api/mappings/m1").status_code == 200
    assert client.get("/api/mappings/m1").status_code == 404
    assert client.delete("/api/mappings/m1").status_code == 404
    # spec listings still served
    assert "src1" in client.get("/api/specs/sources").get_json()
    assert "dst1" in client.get("/api/specs/destinations").get_json()


def test_source_spec_create_columns_template_delete(env):
    """Reference app.py:244-281 + 715-747 round trip: POST creates the
    spec, its directory and a typed template CSV under the INPUT root;
    GET columns serves the column dicts; DELETE removes the spec."""
    client, tmp_path, cfg = env
    payload = {
        "name": "New Feed", "default_directory": "feed",
        "columns": [
            {"name": "When", "type": "datetime"},
            {"name": "Amount", "type": "money"},
            {"name": "Note", "type": "string"},
        ],
    }
    r = client.post("/api/specs/sources", json=payload)
    assert r.status_code == 201 and r.get_json()["id"] == "new_feed"
    # persisted through the store (fresh read from disk)
    assert SpecStore(str(cfg)).get_source("new_feed").name == "New Feed"
    # directory + template side-effect, under the INPUT root
    tpl = tmp_path / "in" / "feed" / "_template_new_feed.csv"
    assert tpl.exists()
    lines = tpl.read_text().strip().splitlines()
    assert lines[0] == "When,Amount,Note" and len(lines) == 2

    r = client.get("/api/sources/new_feed/columns")
    assert r.status_code == 200
    assert [c["name"] for c in r.get_json()] == ["When", "Amount", "Note"]

    assert client.delete("/api/specs/sources/new_feed").status_code == 200
    assert client.get("/api/sources/new_feed/columns").status_code == 404
    assert SpecStore(str(cfg)).get_source("new_feed") is None


def test_destination_spec_crud_and_update_pins_id(env):
    """Destination twin under the OUTPUT root; PUT updates in place and
    pins the id from the URL (reference edit_destination semantics)."""
    client, tmp_path, cfg = env
    r = client.post("/api/specs/destinations", json={
        "id": "dst2", "name": "Dest 2", "default_directory": "d2",
        "columns": [{"name": "out", "type": "string"}],
    })
    assert r.status_code == 201 and r.get_json()["id"] == "dst2"
    assert (tmp_path / "out" / "d2" / "_template_dst2.csv").exists()

    # update: payload id is ignored, URL id wins; template regenerated
    r = client.put("/api/specs/destinations/dst2", json={
        "id": "evil_rename", "name": "Dest 2 v2", "default_directory": "d2",
        "columns": [{"name": "out", "type": "string"},
                    {"name": "extra", "type": "integer"}],
    })
    assert r.status_code == 200 and r.get_json()["id"] == "dst2"
    store = SpecStore(str(cfg))
    assert store.get_destination("evil_rename") is None
    spec = store.get_destination("dst2")
    assert spec.name == "Dest 2 v2" and len(spec.columns) == 2
    tpl = (tmp_path / "out" / "d2" / "_template_dst2.csv").read_text()
    assert tpl.strip().splitlines()[0] == "out,extra"

    r = client.get("/api/destinations/dst2/columns")
    assert [c["type"] for c in r.get_json()] == ["string", "integer"]
    assert client.delete("/api/specs/destinations/dst2").status_code == 200


def test_spec_crud_error_paths(env):
    """400 on unusable payloads, 404 on unknown ids — errors stay JSON."""
    client, _, _ = env
    assert client.post("/api/specs/sources", json={}).status_code == 400
    assert client.post(
        "/api/specs/sources",
        json={"name": "X", "columns": [{"name": "a", "type": "no_such_type"}]},
    ).status_code == 400
    assert client.put("/api/specs/sources/nope", json={"name": "n"}).status_code == 404
    assert client.delete("/api/specs/sources/nope").status_code == 404
    assert client.get("/api/sources/nope/columns").status_code == 404
    assert client.get("/api/destinations/nope/columns").status_code == 404


def test_created_source_spec_is_immediately_usable(env):
    """The created spec is a real engine object: upload a CSV into its
    directory and preview it through the normal read path."""
    client, tmp_path, _ = env
    client.post("/api/specs/sources", json={
        "name": "Feed2", "default_directory": "feed2",
        "columns": [{"name": "A", "type": "string"},
                    {"name": "B", "type": "integer"}],
    })
    (tmp_path / "in" / "feed2" / "x.csv").write_text("A,B\nhello,1\nworld,2\n")
    r = client.get("/api/preview/feed2/x.csv")
    assert r.status_code == 200
    body = r.get_json()
    assert body["columns"] == ["A", "B"] and body["total"] == 2
    assert body["rows"][0]["A"] == "hello"


def test_file_upload_download_delete(env):
    """S8 file operations (reference app.py:103-155): upload lands under
    the source's directory, only .csv accepted, download serves from the
    output root, delete removes from either root by type."""
    import io

    client, tmp_path, _ = env
    # upload: happy path
    r = client.post(
        "/api/upload/src1",
        data={"file": (io.BytesIO(b"Date,Ticker,Type\n2024-01-01,X,BUY\n"),
                       "up.csv")},
        content_type="multipart/form-data",
    )
    assert r.status_code == 201 and r.get_json()["filename"] == "up.csv"
    assert (tmp_path / "in" / "s1" / "up.csv").exists()
    # upload guards: unknown source, no file, non-CSV
    assert client.post("/api/upload/nope", data={}).status_code == 404
    assert client.post(
        "/api/upload/src1", data={}, content_type="multipart/form-data"
    ).status_code == 400
    r = client.post(
        "/api/upload/src1",
        data={"file": (io.BytesIO(b"x"), "evil.exe")},
        content_type="multipart/form-data",
    )
    assert r.status_code == 400 and "CSV" in r.get_json()["error"]

    # download from the output root
    out_dir = tmp_path / "out" / "d1"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / "result.csv").write_text("date,symbol\n01.01.2024,X\n")
    r = client.get("/api/download/d1/result.csv")
    assert r.status_code == 200
    assert b"01.01.2024" in r.data
    assert client.get("/api/download/d1/missing.csv").status_code == 404

    # delete: input type, then output type
    r = client.post("/api/delete/input/s1/up.csv")
    assert r.status_code == 200
    assert not (tmp_path / "in" / "s1" / "up.csv").exists()
    r = client.post("/api/delete/output/d1/result.csv")
    assert r.status_code == 200
    assert not (out_dir / "result.csv").exists()
    assert client.post("/api/delete/input/s1/up.csv").status_code == 404


def test_file_ops_refuse_path_traversal(env, tmp_path_factory):
    """Documented divergence from the reference: ../ paths must be a
    loud 400, never an escape from the configured roots."""
    client, tmp_path, _ = env
    outside = tmp_path / "secret.txt"
    outside.write_text("keep me")
    r = client.get("/api/download/../secret.txt")
    assert r.status_code in (400, 404)  # flask may normalize; either refuses
    r = client.post("/api/delete/input/../secret.txt")
    assert r.status_code in (400, 404)
    assert outside.exists()


def test_upload_refuses_escaping_source_directory(env, tmp_path):
    """default_directory is client-settable; a '../' or absolute value must
    not let an upload (or the spec-save template side effect) land outside
    the input root."""
    client, tmp_path, cfg = env
    # spec-save validation: hostile directory is rejected at create time
    r = client.post("/api/specs/sources", json={
        "name": "Evil", "default_directory": "../escape",
        "columns": [{"name": "A", "type": "string"}],
    })
    assert r.status_code == 400
    r = client.post("/api/specs/sources", json={
        "name": "Evil Abs", "default_directory": "/tmp/abs_escape",
        "columns": [{"name": "A", "type": "string"}],
    })
    assert r.status_code == 400
    assert not (tmp_path / "escape").exists()
    # upload guard: a pre-validation persisted spec with a hostile path
    # still cannot receive files
    store = SpecStore(str(cfg))
    spec = store.get_source("src1")
    spec.default_directory = "../evil"
    store.save_source(spec)
    import io
    r = client.post(
        "/api/upload/src1",
        data={"file": (io.BytesIO(b"A\n1\n"), "x.csv")},
        content_type="multipart/form-data",
    )
    assert r.status_code == 400
    assert not (tmp_path / "evil").exists()


def test_bad_client_input_is_400(env):
    """Malformed request values are the client's fault: a JSON 400, not a
    Spark error or an HTML 500."""
    client, tmp_path, _ = env
    before = (tmp_path / "in" / "s1" / "a.csv").read_text()
    r = client.get("/api/preview/src1/a.csv?limit=-1")
    assert r.status_code == 400 and "error" in r.get_json()
    r = client.post("/api/preview/src1/a.csv/update", json={"line": "x", "row": {"Date": "d"}})
    assert r.status_code == 400 and "error" in r.get_json()
    r = client.post("/api/preview/src1/a.csv/update", json={"line": 3, "row": {"Nope": "d"}})
    assert r.status_code == 400 and "Nope" in r.get_json()["error"]
    for line in (1, 99):  # the header, and a line past the last row
        r = client.post("/api/preview/src1/a.csv/update", json={"line": line, "row": {"Date": "d"}})
        assert r.status_code == 400 and f"line {line} " in r.get_json()["error"]
    assert (tmp_path / "in" / "s1" / "a.csv").read_text() == before
    assert sorted(p.name for p in (tmp_path / "in" / "s1").iterdir()) == ["a.csv"]


def test_saved_mapping_recompiles_between_previews(env):
    """Compiled mappings are memoized by the mapping's JSON: saving a
    changed mapping must change what the next preview validates."""
    client, _, _ = env
    url = "/api/preview/src1/a.csv?mapping_id=m1"
    v = client.get(url).get_json()["validation"]
    assert (v["success_count"], v["error_count"]) == (1, 1)
    direct = [{"destination_field": "symbol", "source_field": "Ticker",
               "transform_type": "direct", "transform_config": {}}]
    r = client.post("/api/mappings/m1/save", json={"field_mappings": direct})
    assert r.status_code == 200
    body = client.get(url).get_json()
    assert (body["validation"]["success_count"], body["validation"]["error_count"]) == (2, 0)
    assert body["errors_by_line"] == {}


def _request_jobs(spark, client) -> list[list[str]]:
    """The call sites of the Spark jobs each dashboard request launches,
    read from the status store (UI off): preview, process, edit, convert.
    Each status is pinned too, so every count is of a request that did
    the full work: the edit leaves line 3's bad date in place, so the
    convert runs its gate and reports that one error."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs(call, status: int):
        before = newest_job_id(spark)
        r = call()
        assert r.status_code == status, r.get_data(as_text=True)[:300]
        after = newest_job_id(spark)
        return [store.job(i).name() for i in range(before + 1, after + 1)], r.get_json()

    preview, body = jobs(lambda: client.get("/api/preview/src1/a.csv?mapping_id=m1"), 200)
    assert body["validation"]["error_count"] == 1 and body["total"] == 3
    assert list(body["errors_by_line"]) == ["3"]
    process, body = jobs(lambda: client.post("/api/process/src1", json={"mapping_id": "m1"}), 200)
    assert body["error_count"] == 1 and [e["line"] for e in body["errors"]] == [3]
    edit, _ = jobs(lambda: client.post(
        "/api/preview/src1/a.csv/update", json={"line": 2, "row": {"Date": "2024-01-14"}}
    ), 200)
    convert, body = jobs(
        lambda: client.post("/api/preview/src1/a.csv/convert", json={"mapping_id": "m1"}), 400
    )
    assert body["message"] == "Conversion failed with 1 errors"
    assert [e["line"] for e in body["errors"]] == [3]
    return [preview, process, edit, convert]


def _assert_within(counts: list[list[str]], caps: tuple[int, ...]) -> None:
    over = {
        name: sites
        for name, sites, cap in zip(("preview", "process", "edit", "convert"), counts, caps)
        if len(sites) > cap
    }
    assert not over, f"over the job budget {caps}: {over}"


def test_request_job_budget(spark, env):
    """Spark jobs per dashboard request on a file Spark reads as one
    split.  A per-request header job, a separate preview count(), a
    counter aggregate after the persist, an error rescan, a line-number
    shuffle or a sampling sort for the single-file write would break a
    pin; the failure lists each request's job call sites."""
    client, _, _ = env
    _assert_within(_request_jobs(spark, client), (3, 0, 1, 2))


def test_request_job_budget_split_file(spark, env):
    """The same requests on a file Spark splits into several partitions.
    Each request may add the line-number offsets aggregate, which is two
    jobs under AQE (partial counts per partition, one row per split
    shuffled, so the scan stays parallel); the edit's single-file write
    may add the shuffle that gathers the partitions into one."""
    client, tmp_path, _ = env
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
    try:
        scan = read_spec_csv(spark, str(tmp_path / "in" / "s1" / "a.csv"))
        assert scan.rdd.getNumPartitions() >= 3
        counts = _request_jobs(spark, client)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    _assert_within(counts, (5, 0, 4, 4))


# -- the upload memo (orchestrate.measure) ------------------------------------
# Each test below fails on a version of the memo whose key or hit rule
# ignores the part it names: a request the memo answers runs no Spark job
# and reports the stored counts.


def _jobs_and_body(spark, call, status: int = 200):
    before = newest_job_id(spark)
    r = call()
    assert r.status_code == status, r.get_data(as_text=True)[:300]
    return newest_job_id(spark) - before, r.get_json()


def _process(client):
    return lambda: client.post("/api/process/src1", json={"mapping_id": "m1"})


def _rewrite_keeping_mtime(path, edit) -> None:
    """Run ``edit`` (which must keep the byte size), then put the old
    mtime back, as a quick check on size and mtime alone would miss."""
    st = path.stat()
    edit()
    assert path.stat().st_size == st.st_size
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert path.stat().st_mtime_ns == st.st_mtime_ns


def test_upload_memo_serves_the_same_bodies(spark, env):
    """Preview → process → convert, with the memo and with every memo
    cleared before each request: identical JSON bodies, logs and
    ``has_more_errors`` included.  Preview stores 50 of b.csv's 60 errors;
    the process (cap 49 after a.csv's one) and the convert (cap 20) are
    answered from them without a job."""
    from csv_etl_spark import driver_memo

    client, tmp_path, _ = env
    (tmp_path / "in" / "s1" / "b.csv").write_text(
        "Date,Ticker,Type\n" + "".join(f"bad{i},T{i},BUY\n" for i in range(60))
    )
    requests = [
        (lambda: client.get("/api/preview/src1/a.csv?mapping_id=m1"), 200),
        (lambda: client.get("/api/preview/src1/b.csv?mapping_id=m1"), 200),
        (_process(client), 200),
        (lambda: client.post("/api/preview/src1/b.csv/convert", json={"mapping_id": "m1"}), 400),
    ]

    def run(clear: bool):
        bodies, jobs = [], []
        for call, status in requests:
            if clear:
                driver_memo.clear_all()
            n, body = _jobs_and_body(spark, call, status)
            bodies.append(body)
            jobs.append(n)
        return bodies, jobs

    cold, cold_jobs = run(clear=True)
    warm, warm_jobs = run(clear=False)
    assert warm == cold
    assert cold[2]["has_more_errors"] is True and len(cold[2]["errors"]) == 50
    assert len(cold[3]["errors"]) == 20
    assert min(cold_jobs) > 0 and warm_jobs[2:] == [0, 0]


def test_upload_memo_misses_after_same_size_api_edit(spark, env):
    """An edit through the API to the same byte size, with the old mtime
    put back, is a miss: the rename gives a new inode and ctime."""
    client, tmp_path, _ = env
    f = tmp_path / "in" / "s1" / "a.csv"
    client.get("/api/preview/src1/a.csv?mapping_id=m1")
    _rewrite_keeping_mtime(f, lambda: client.post(
        "/api/preview/src1/a.csv/update", json={"line": 2, "row": {"Date": "bad-date-1"}}
    ))
    jobs, body = _jobs_and_body(spark, _process(client))
    assert jobs > 0
    assert (body["success_count"], body["error_count"]) == (0, 2)


def test_upload_memo_misses_after_external_rewrite(spark, env):
    """A rewrite in place from outside the API, same size, old mtime put
    back: same inode, new ctime, so a miss."""
    client, tmp_path, _ = env
    f = tmp_path / "in" / "s1" / "a.csv"
    client.get("/api/preview/src1/a.csv?mapping_id=m1")

    def rewrite():
        with open(f, "r+b") as fh:
            data = fh.read()
            fh.seek(0)
            fh.write(data.replace(b"2024-01-15", b"bad-date-1"))

    _rewrite_keeping_mtime(f, rewrite)
    jobs, body = _jobs_and_body(spark, _process(client))
    assert jobs > 0
    assert (body["success_count"], body["error_count"]) == (0, 2)


def test_upload_memo_misses_after_mapping_save(spark, env):
    """A saved mapping (here one more skip rule) is a miss."""
    client, _, cfg = env
    client.get("/api/preview/src1/a.csv?mapping_id=m1")
    m = SpecStore(str(cfg)).get_mapping("m1").to_dict()
    rules = m["filter_rules"] + [{"field": "Ticker", "operator": "equals", "value": "AAPL"}]
    r = client.post("/api/mappings/m1/save",
                    json={"field_mappings": m["field_mappings"], "filter_rules": rules})
    assert r.status_code == 200
    jobs, body = _jobs_and_body(spark, _process(client))
    assert jobs > 0
    assert (body["success_count"], body["skipped_count"], body["error_count"]) == (0, 2, 1)


def test_upload_memo_misses_after_conf_change(spark, env):
    """The legacy time parser reads ``2024-01-05x`` under ``%Y-%m-%d`` (it
    ignores trailing text), the default parser does not: a changed SQL
    conf is a miss."""
    client, tmp_path, _ = env
    with open(tmp_path / "in" / "s1" / "a.csv", "a") as fh:
        fh.write("2024-01-05x,IBM,BUY\n")
    body = client.get("/api/preview/src1/a.csv?mapping_id=m1").get_json()
    assert body["validation"]["error_count"] == 2
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    try:
        jobs, body = _jobs_and_body(spark, _process(client))
    finally:
        spark.conf.unset("spark.sql.legacy.timeParserPolicy")
    assert jobs > 0
    assert (body["success_count"], body["error_count"]) == (2, 1)


def test_upload_memo_never_answers_a_write(spark, env):
    """A clean file previewed and then converted still writes its output."""
    client, tmp_path, _ = env
    (tmp_path / "in" / "s1" / "a.csv").write_text("Date,Ticker,Type\n2024-01-15,AAPL,BUY\n")
    client.get("/api/preview/src1/a.csv?mapping_id=m1")
    r = client.post("/api/preview/src1/a.csv/convert", json={"mapping_id": "m1"})
    assert r.status_code == 200, r.get_json()
    out = (tmp_path / "out" / "d1" / "a_dst1.csv").read_text().splitlines()
    assert out == ["date,symbol", "15.01.2024,AAPL"]


def test_upload_memo_misses_when_the_cap_is_larger(spark, env, monkeypatch):
    """A preview that stored one error of three cannot answer a process
    that asks for up to 50."""
    import csv_etl_spark.api as api_mod

    client, tmp_path, _ = env
    (tmp_path / "in" / "s1" / "a.csv").write_text(
        "Date,Ticker,Type\nbad1,A,BUY\nbad2,B,BUY\nbad3,C,BUY\n"
    )
    monkeypatch.setattr(api_mod, "DEFAULT_ERROR_CAP", 1)
    body = client.get("/api/preview/src1/a.csv?mapping_id=m1").get_json()
    assert len(body["errors_by_line"]) == 1
    jobs, body = _jobs_and_body(spark, _process(client))
    assert jobs > 0
    assert [e["line"] for e in body["errors"]] == [2, 3, 4]
